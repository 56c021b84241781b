package graft.operators

import graft.core.CacheRegistry
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, NumericType}

/** Approximate-nearest-neighbor search over an embedding column.
  * (North-star extension; the reference has no vector surface.)
  *
  * Scale design: the query set is always the broadcast side — corpus
  * partitions stream once past an in-memory query table, so brute force
  * is a single corpus scan regardless of corpus size. The LSH variant
  * prunes the per-query candidate set by joining on hyperplane buckets,
  * trading recall for a much smaller scoring join at 100 TB.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` MUST be small (driver-broadcastable); corpus any size.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    cosineTopK(c.join(q, col("query_id") =!= col("neighbor_id")), k)
  }

  /** The per-query top-k cut every ranked search here shares: each
    * query's rows ranked by `score` descending, ties to the smaller
    * `neighbor_id`, `rank <= k` kept (adds `rank`).
    */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int): DataFrame =
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col(score).desc, col("neighbor_id")), k)

  /** Exact-cosine top-k over (query_id, neighbor_id, q_vec, c_vec)
    * candidate rows: one fused cosine per row, [[topKPerQuery]], output
    * (query_id, neighbor_id, cosine rounded to 4dp, rank).
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topKPerQuery(pairs.withColumn("cosine", cosine(col("q_vec"), col("c_vec"))), "cosine", k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))

  /** Matryoshka prefix-dimension retrieval eval — how much of the
    * top-k neighborhood survives truncating embeddings to their first
    * p dimensions? Matryoshka-trained models pack information
    * front-loaded so p ≪ d retains most retrieval quality; this
    * measures that claim ON YOUR CORPUS before committing to the
    * 4–8× index shrink (and for non-MRL embeddings it documents how
    * much truncation costs). For each prefix p: overlap@k =
    * |topk_full ∩ topk_prefix| / (total full slots), in exact ppm.
    *
    * Shape: one [[bruteForceTopK]] for the full rank (checkpointed —
    * every prefix reuses it), one per prefix over SLICED vectors (the
    * slice happens before the broadcast, so each pass ships only p
    * floats per row), overlap as a left-semi join on the (query,
    * neighbor) key. Query set must be bounded (the broadcast
    * contract). Ranks tie-break on neighbor_id, so both engines rank
    * identically off bit-identical in-order cosine folds. Output one
    * row per prefix: (prefix_dim, n_queries, k, overlap_ppm).
    */
  def matryoshkaEval(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, prefixDims: Seq[Int]): DataFrame = {
    require(k >= 1, s"matryoshkaEval: k must be >= 1, got $k")
    require(prefixDims.nonEmpty && prefixDims.forall(_ >= 1),
      s"matryoshkaEval: prefixDims must be non-empty positive, got $prefixDims")
    // A prefix BEYOND the embedding dim silently slices to the full
    // vector and reports a trivially-perfect overlap_ppm=1000000 that
    // misreads as "truncation is free" — reject it against the
    // realized dim (the first NON-EMPTY row's width — VecDim.probe
    // skips empty vectors). p == dim is allowed: it is the explicit
    // full-dim baseline and SHOULD read 1.0.
    val realizedDim = graft.core.VecDim.probe(corpus, vecCol, "matryoshkaEval")
    require(prefixDims.forall(_ <= realizedDim),
      s"matryoshkaEval: prefix dims must be <= embedding dim $realizedDim " +
        s"(a prefix past the dim slices to the full vector and reports a " +
        s"vacuous perfect overlap); got $prefixDims")
    val full = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .transform(CacheRegistry.checkpoint(_))
    val base = full.agg(count_distinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("_slots"))
    prefixDims.map { p =>
      val qp = queries.select(col(idCol),
        slice(col(vecCol), 1, p).as(vecCol))
      val cp = corpus.select(col(idCol),
        slice(col(vecCol), 1, p).as(vecCol))
      val pref = bruteForceTopK(qp, cp, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"))
      val m = full.join(pref, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("_matches"))
      base.crossJoin(broadcast(m))
        .select(lit(p.toLong).as("prefix_dim"), col("n_queries"),
          lit(k.toLong).as("k"),
          expr("_matches * 1000000 div _slots").as("overlap_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Mutual k-NN graph over a (pre-blocked) vector set: an undirected
    * edge (a, b) exists iff each endpoint ranks in the OTHER's cosine
    * top-k — the mutual filter drops hub-attracted asymmetric links
    * and is the standard graph for kNN clustering / UMAP-style
    * manifold steps. Output one row per edge, a < b, with the cosine
    * and both ranks.
    *
    * DEFAULT ENTRY POINT for corpus-scale mutual graphs is
    * [[ivfKnnGraph]]`(…, mutual = true)` — no broadcast query set, no
    * caller pre-blocking, pair work Σ_cell probers·members. THIS form
    * is the EXACT kernel for a frame the caller has already bounded
    * (an IVF cell, an LSH bucket, a label stratum, an eval sample):
    * it runs [[bruteForceTopK]] with the SAME frame as queries and
    * corpus, so the whole set rides a broadcast — correct and fastest
    * when the block fits, quadratic if pointed at a raw corpus. The
    * directed top-k is computed ONCE (checkpointed) and joined to
    * itself on the reversed pair; `ivfKnnGraph(nprobe = nlist,
    * mutual = true)` reproduces this output exactly (spec-pinned).
    */
  def mutualKnnGraph(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    mutualEdges(bruteForceTopK(vectors, vectors, idCol, vecCol, k))
  }

  /** The mutual filter over a directed top-k frame (query_id,
    * neighbor_id, cosine, rank): checkpointed once, then the a < b
    * half joined to the reversed a > b half on the pair. Output
    * (a, b, cosine, rank_a, rank_b).
    */
  private def mutualEdges(topk: DataFrame): DataFrame = {
    val cp = CacheRegistry.checkpoint(topk)
    val lo = cp.where(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        col("cosine"), col("rank").as("rank_a"))
    val hi = cp.where(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("a"), col("query_id").as("b"),
        col("rank").as("rank_b"))
    lo.join(hi, Seq("a", "b"))
      .select(col("a"), col("b"), col("cosine"), col("rank_a"), col("rank_b"))
  }

  /** Corpus-scale approximate kNN GRAPH — every vector's IVF top-k
    * with NO driver-side query set: the scale path [[mutualKnnGraph]]
    * (broadcast queries, exact) cannot take. Cell probing happens
    * without broadcasting the vectors either — each vector meets the
    * tiny broadcast centroid table (nlist-way narrow blow-up), one
    * map-combinable aggregate keeps its `nprobe` best cells, and the
    * candidate join is a plain hash join on the cell key, so the
    * shuffle carries each vector nprobe (probe side) + 1 (index side)
    * times. Per-query top-k is a keyed window.
    *
    * Parallelism = nlist (one task per probed cell): at corpus scale
    * set nlist ≥ cluster cores (the FAISS √N guidance lands there
    * anyway); the gate uses small nlist on small data. Pair work is
    * Σ_cell |queries probing it|·|members| — cells, never corpus².
    * `mutual = true` keeps only edges where BOTH endpoints rank each
    * other top-k (output (a, b, cosine, rank_a, rank_b), a < b — the
    * [[mutualKnnGraph]] contract); otherwise
    * (query_id, neighbor_id, cosine, rank).
    */
  def ivfKnnGraph(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      mutual: Boolean = false,
      seed: Long = 42L): DataFrame = {
    val topk = ivfKnnRaw(vectors, idCol, vecCol, k, nlist, nprobe, seed)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
    if (mutual) mutualEdges(topk) else topk
  }

  /** [[ivfKnnGraph]]'s candidate core with the UNROUNDED cosine — the
    * window already ranks on the exact value; the public graph only
    * rounds it on the way out. Exposed so
    * [[Dedup.semanticDedupViaKnnGraph]] can verify its threshold on
    * the exact score ALREADY IN HAND instead of joining both dense
    * vectors back onto every candidate pair to recompute it (the
    * fused cosine kernel is index-order deterministic and symmetric,
    * so the value is bit-identical whichever side was the query).
    * Output: (query_id, neighbor_id, cosine (raw double), rank).
    */
  private[operators] def ivfKnnRaw(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      seed: Long): DataFrame = {
    require(k >= 1, s"ivfKnnGraph: k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= nlist,
      s"ivfKnnGraph: nprobe must be in [1, nlist], got $nprobe")
    val index = buildIvfIndex(vectors, idCol, vecCol, nlist, seed = seed)
    val cells = probeCells(
      vectors.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", index.centroids, nprobe, Seq("q_vec"))
    val scored = index.assigned.join(cells, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, "cosine", k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The IVF cell probe: each query row (`qid`, `qvec`, plus the
    * `carry` columns) becomes one row per its `nprobe` nearest cells by
    * centroid cosine, ties to the lower cell — (qid, carry…, cell).
    * Centroids broadcast; the pick is a hash aggregate over a sortable
    * struct (negated cosine, cell), never a window: the aggregate
    * combines map-side, a window would shuffle raw nlist-fold rows.
    * (−cos asc, cell asc) is (cos desc, cell asc), and a query's
    * cosines are all null together (wrong dimension, null element),
    * which then picks the lowest cells. One row per `qid` is the
    * contract: `carry` keeps the group's first value.
    */
  private[operators] def probeCells(queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, nprobe: Int, carry: Seq[String]): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .withColumn("_nd",
        cosine(col(qvec).cast("array<double>"), col("centroid")) * lit(-1.0d))
      .groupBy(col(qid))
      .agg(slice(sort_array(collect_list(struct(col("_nd"), col("cell")))),
        1, nprobe).as("_best"), carry.map(c => first(col(c)).as(c)): _*)
      .select((col(qid) +: carry.map(col)) :+
        explode(col("_best.cell")).as("cell"): _*)

  /** HARD-NEGATIVE MINING for contrastive training: per query, the
    * `k` most-similar corpus vectors whose LABEL DIFFERS — the
    * near-miss examples a triplet/InfoNCE loss learns most from
    * (random negatives are trivially far; hard ones sit just across
    * the boundary). Same broadcast-queries + fused-cosine kernel as
    * [[bruteForceTopK]] with the label-mismatch predicate pushed into
    * the join; rows with null labels are excluded on both sides
    * (unlabeled data cannot certify a negative). At corpus scale,
    * swap the exact kernel for [[ivfTopK]] candidates and re-filter —
    * same shape, cell-pruned.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.where(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("q_label")))
    val c = corpus.where(col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("neg_label"))
    val scored = c.join(q,
        col("query_id") =!= col("neighbor_id") &&
          col("q_label") =!= col("neg_label"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, "cosine", k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Leave-one-out kNN classification — the standard "are these
    * embeddings any good" probe (a representation whose neighbors
    * share labels is learnable; one whose neighbors are random is
    * noise). Per query: the k nearest corpus vectors (self excluded)
    * vote by majority, ties to the smallest label. Returns one row
    * per query: (query_id, true_label, predicted_label, votes,
    * correct). Same broadcast/fused-kernel shape as
    * [[bruteForceTopK]]; at corpus scale the candidates come from
    * [[ivfTopK]] instead.
    */
  def knnClassify(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val neighbors = bruteForceTopK(
      queries.where(col(labelCol).isNotNull),
      corpus.where(col(labelCol).isNotNull), idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("_nl"))
    val truth = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("true_label"))
    val votes = neighbors
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_nl"))
      .agg(count(lit(1)).as("votes"))
    Relational.topKPerGroup(votes, Seq(col("query_id")),
        Seq(col("votes").desc, col("_nl").asc), 1)
      .join(truth, Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("_nl").as("predicted_label"), col("votes"),
        (col("_nl") === col("true_label")).as("correct"))
  }

  /** Exact KNN-Shapley data valuation (Jia, Dao et al., "Efficient
    * Task-Specific Data Valuation for Nearest Neighbor Algorithms",
    * VLDB 2019): the Shapley value of every training point for a KNN
    * classifier admits a closed form — sort training points by
    * distance to a test point (α₁ nearest, N total) and recurse from
    * the farthest:
    *
    * {{{ s_N = 𝟙[y_N = y]/N;   s_j = s_{j+1} + (𝟙_j − 𝟙_{j+1})·min(K,j)/(K·j) }}}
    *
    * so s_j is a SUFFIX SUM — a window aggregate, not a loop. High-
    * value points are near-and-right-labeled; near-and-WRONG points
    * score negative — the principled "which documents help / hurt"
    * readout for pruning, sample weighting, and data markets, sitting
    * beside [[graft.operators.TrainingData.budgetSelect]]'s
    * heuristic quality ranks.
    *
    * Determinism discipline: milli-unit fixed-point vectors, EXACT
    * integer squared distances, rank ties broken by id, and each
    * rational term floored at ppm with the sign factored OUT of the
    * division — `(𝟙_j − 𝟙_{j+1}) · (10⁶·min(K,j) div (K·j))` — so
    * Spark's truncating `div` and the oracle's floor `//` only ever
    * see non-negative numerators. All sums are exact longs.
    *
    * Scale shape: test × train pairs with the test side broadcast
    * (the [[bruteForceTopK]] discipline — the caller bounds the test
    * sample; corpus partitions stream once). Per-test ranking is one
    * window over the pair frame partitioned by test id (shuffle
    * carries (ids, d², two labels) — never vectors); the suffix sum
    * rides the SAME sort order, so both windows share one exchange.
    * At corpus scale, feed ANN candidates ([[ivfKnnGraph]]) instead
    * of the exact cross product — distant points' terms vanish like
    * 1/j, so a candidate horizon changes values negligibly while
    * cutting the pair frame to k·nprobe per test point.
    * Output: (vec_id, n_test, value_ppm) — Σ over test points of the
    * point's s_j in ppm — top `topN` by (value_ppm DESC, id).
    */
  def knnShapley(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      topN: Int = 50): DataFrame = {
    require(k >= 1, s"knnShapley: k must be >= 1, got $k")
    val in = ShapleyInput(idCol, vecCol, labelCol,
      graft.core.VecDim.probe(train, vecCol, "knnShapley"))
    shapleyExact(in, train, test, k, topN)
  }

  /** KNN-Shapley's input contract — a vector of the probed `dim`, a
    * non-null id and a non-null label — and its fixed-point rows.
    */
  private final case class ShapleyInput(
      idCol: String, vecCol: String, labelCol: String, dim: Int) {
    def valid(df: DataFrame): DataFrame =
      df.where(size(col(vecCol)) === dim &&
        col(idCol).isNotNull && col(labelCol).isNotNull)

    /** Valid rows as (long id, milli-unit fixed-point vector, label). */
    def fixed(df: DataFrame, id: String, v: String, y: String): DataFrame =
      valid(df).select(col(idCol).cast("long").as(id),
        transform(col(vecCol).cast("array<double>"),
          e => floor(e * lit(1000.0))).as(v),
        col(labelCol).as(y))
  }

  /** (test, train) rows carrying both fixed-point sides → the kernel's
    * (_qid, _tid, exact integer d², label match) pair frame.
    */
  private def shapleyPairs(joined: DataFrame): DataFrame =
    joined.select(col("_qid"), col("_tid"),
      aggregate(zip_with(col("_tv"), col("_qv"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
        .as("_d2"),
      when(col("_ty") === col("_qy"), 1L).otherwise(0L).as("_m"))

  /** The exact form: every valid train row against the broadcast test side. */
  private def shapleyExact(in: ShapleyInput, train: DataFrame, test: DataFrame,
      k: Int, topN: Int): DataFrame = {
    val tr = in.fixed(train, "_tid", "_tv", "_ty")
    val te = broadcast(in.fixed(test, "_qid", "_qv", "_qy"))
    shapleyKernel(shapleyPairs(tr.crossJoin(te)), k, topN)
  }

  /** The closed-form KNN-Shapley readout over a (test, train, d²,
    * label-match) pair frame — shared by the exact [[knnShapley]]
    * (full cross product) and the ANN-candidate [[knnShapleyAnn]]
    * (cell-restricted pairs). Per-test ranking, the per-rank
    * contribution c_j, and the suffix sum ride ONE exchange
    * (identical partition + order), all arithmetic exact longs.
    */
  private def shapleyKernel(pairs: DataFrame, k: Int, topN: Int): DataFrame = {
    val byDist = Window.partitionBy(col("_qid"))
      .orderBy(col("_d2").asc, col("_tid").asc)
    val ranked = pairs
      .withColumn("_j", row_number().over(byDist))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_qid"))))
      .withColumn("_mNext", lead(col("_m"), 1).over(byDist))
    // c_j: the suffix-summable per-rank contribution — the base term
    // at j = N, the recursion delta everywhere else (sign outside the
    // floored division, see scaladoc)
    val contrib = ranked.withColumn("_c",
      when(col("_j") === col("_n"), col("_m") * expr("1000000L div _n"))
        .otherwise((col("_m") - col("_mNext")) *
          expr(s"(1000000L * least(CAST($k AS BIGINT), CAST(_j AS BIGINT)))" +
            s" div (CAST($k AS BIGINT) * CAST(_j AS BIGINT))")))
    // suffix sum WITHOUT a second sort: Σ_{i≥j} c_i = Σ c − Σ_{i<j} c_i
    // — the whole-partition total (unordered window, same exchange)
    // minus the EXCLUSIVE prefix on the ascending order the ranking
    // already established. Exact long arithmetic, so the regrouped
    // form is bit-identical; the previous `orderBy(_j.desc)` window
    // paid a full extra sort of the pair frame per kernel run.
    val prefixExcl = byDist.rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(col("_qid"))
    contrib
      .withColumn("_s", sum(col("_c")).over(whole) -
        coalesce(sum(col("_c")).over(prefixExcl), lit(0L)))
      .groupBy(col("_tid"))
      .agg(count(lit(1)).as("n_test"), sum(col("_s")).as("value_ppm"))
      .select(col("_tid").as("vec_id"), col("n_test"), col("value_ppm"))
      .orderBy(col("value_ppm").desc, col("vec_id").asc)
      .limit(topN)
  }

  /** The IVF index [[knnShapleyAnn]] builds internally (same validity
    * filter, same build), exposed so callers running SEVERAL probe
    * widths over one train corpus — the equivalence-pin + working-probe
    * gate shape — share one sample/train/assign pass via `sharedIndex`
    * instead of paying it once per width. Requires a non-empty filtered
    * train side (buildIvfIndex throws otherwise, which is the signal to
    * fall back to the no-index path).
    */
  def shapleyAnnIndex(
      train: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      nlist: Int = 16,
      seed: Long = 42L): IvfIndex = {
    val dim = graft.core.VecDim.probe(train, vecCol, "knnShapleyAnn")
    buildIvfIndex(ShapleyInput(idCol, vecCol, labelCol, dim).valid(train),
      idCol, vecCol, nlist, seed = seed)
  }

  /** [[knnShapley]] over IVF-candidate pairs — the corpus-scale
    * composition the exact form's scaladoc promises: each test point
    * ranks only the train vectors in its `nprobe` best IVF cells
    * (built over the train side, [[buildIvfIndex]]), so the pair
    * frame shrinks from |test|·|train| to Σ probed-cell sizes while
    * the 1/j-decaying Shapley terms keep the values close. The
    * per-test horizon N becomes the candidate count, so `nprobe =
    * nlist` reproduces the exact [[knnShapley]] output EXACTLY
    * (every valid train vector sits in exactly one cell) — the
    * equivalence pin `q_shapley_ann` gates, beside its working-probe
    * agreement gate.
    *
    * Scale shape: centroids broadcast (nlist × dim), the probe is a
    * map-combinable aggregate per test point, candidates come off a
    * plain hash join on the cell key, and the kernel's two windows
    * share one exchange — no all-pairs stage anywhere.
    */
  def knnShapleyAnn(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      topN: Int = 50,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      sharedIndex: Option[IvfIndex] = None): DataFrame = {
    require(k >= 1, s"knnShapleyAnn: k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= nlist,
      s"knnShapleyAnn: nprobe must be in [1, nlist], got $nprobe")
    val in = ShapleyInput(idCol, vecCol, labelCol,
      graft.core.VecDim.probe(train, vecCol, "knnShapleyAnn"))
    val trainValid = in.valid(train)
    // Empty-after-filters train: run the exact twin (an empty cross
    // product, so an empty frame) rather than failing inside
    // buildIvfIndex with a generic centroid-training error; the twins
    // are documented exactly equivalent at nprobe = nlist, including
    // this edge. (bounded: isEmpty is a limit(1) probe.
    // Skipped when the caller hands a prebuilt index — building one
    // certifies the train side was non-empty, and the probe plus a
    // duplicate sample/train/assign pass is exactly what sharedIndex
    // exists to avoid when several probe widths run over one corpus.)
    if (sharedIndex.isEmpty && trainValid.isEmpty)
      return shapleyExact(in, trainValid, test, k, topN)
    val index = sharedIndex.getOrElse(
      buildIvfIndex(trainValid, idCol, vecCol, nlist, seed = seed))
    // nprobe best cells per TEST point
    val cells = probeCells(
      in.valid(test).select(col(idCol).cast("long").as("_qid"), col(vecCol).as("_qraw")),
      "_qid", "_qraw", index.centroids, nprobe, Nil)
    // distinct (_qid, _tid): duplicate train ids (rows sharing an id,
    // or ids colliding after the long cast) appear once per assigned
    // row AND once per matching tr row — without the dedup the join
    // would square them, inflating the per-test horizon and breaking
    // the nprobe=nlist exact-equivalence contract. With the dedup the
    // tr join restores exactly one pair per duplicate row, matching
    // the exact kernel's cross product.
    val cand = index.assigned
      .join(broadcast(cells), Seq("cell"))
      .select(col("_qid"), col("neighbor_id").cast("long").as("_tid"))
      .distinct()
    val tr = in.fixed(trainValid, "_tid", "_tv", "_ty")
    val te = broadcast(in.fixed(test, "_qid", "_qv", "_qy"))
    shapleyKernel(shapleyPairs(cand.join(tr, Seq("_tid")).join(te, Seq("_qid"))), k, topN)
  }

  /** LSH-bucketed ANN: both sides keyed by sign-random-projection
    * buckets over `tables` independent hash tables; candidates scored
    * exactly, top-k per query. Recall < 1 by construction; raise
    * `tables` or lower `bits` to trade compute for recall.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      tables: Int = 4): DataFrame = {
    val q = broadcast(lshTables(queries, idCol, vecCol, "query_id", "q_vec", bits, tables, 7L))
    val c = lshTables(corpus, idCol, vecCol, "neighbor_id", "c_vec", bits, tables, 7L)
    // score-THEN-dedup: cosine is deterministic per (query, neighbor)
    // pair, so computing it while the vectors are still join-co-located
    // and projecting to (ids, cosine) BEFORE dropDuplicates leaves the
    // dedup exchange (and the top-k window exchange after it) carrying
    // three narrow columns instead of two dense vectors per candidate;
    // a pair colliding in several tables re-pays one fused cosine
    val cand = c.join(q, Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(cand, "cosine", k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Multi-table sign-random-projection keys: each row, projected to
    * (`id`, `vec`), once per table `t` in `0 until tables` with its
    * `bits`-bit hyperplane bucket under seed `seedBase + t` — rows
    * (id, vec, tbl, bucket). Callers keep their own `seedBase`.
    */
  private[operators] def lshTables(df: DataFrame, idCol: String, vecCol: String,
      id: String, vec: String, bits: Int, tables: Int, seedBase: Long): DataFrame =
    df.select(
      col(idCol).as(id),
      col(vecCol).as(vec),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          hyperplaneBucket(col(vecCol), bits, seed = seedBase + t).as("bucket"))
      }: _*)).as("tb"))
      .select(col(id), col(vec), col("tb.tbl"), col("tb.bucket"))

  /** Verified near-duplicate pairs among rows sharing every `keys`
    * value (an IVF cell, an LSH table + bucket): `keyed` rows are
    * (keys…, id, v); output (id_a < id_b, cosine ≥ `threshold`
    * rounded to 4dp), each pair once.
    *
    * Verify-THEN-dedup: cosine is deterministic per (id_a, id_b), so
    * filtering before dropDuplicates returns the identical pair set,
    * but the dedup exchange then carries only the few above-threshold
    * (id_a, id_b, cosine) rows instead of every candidate pair
    * decorated with BOTH dense vectors (measured ~300 MB/run → KBs on
    * the gate corpus). A pair sharing several keys pays the fused
    * cosine once per shared key, which is noise next to shuffling its
    * two vectors.
    */
  private[operators] def verifiedCosinePairs(
      keyed: DataFrame, keys: Seq[String], threshold: Double): DataFrame = {
    def side(s: String) =
      keyed.select(keys.map(col) :+ col("id").as(s"id_$s") :+ col("v").as(s"v_$s"): _*)
    side("a").join(side("b"), keys)
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Reusable IVF (inverted-file) index: coarse-quantizer centroids
    * (tiny: nlist × dim, always broadcast) plus the corpus with its
    * cell assignment (persisted — released via CacheRegistry like every
    * other staged intermediate). Build once, serve many query batches;
    * at 100 TB the `assigned` frame is what you'd write to
    * cell-partitioned parquet so probes prune at scan time.
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame, nlist: Int) {
    /** Persist the index: centroids as one small parquet, assignments
      * CELL-PARTITIONED — a probe that reads `nprobe` cells then scans
      * only those directories (partition pruning does the IVF pruning
      * at the storage layer, which is the whole point of IVF at
      * 100 TB).
      */
    def save(path: String): Unit = {
      centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
    }
  }

  /** Pin a batch id column to a standing index's id type, allowing
    * only LOSSLESS widening (`Cast.canUpCast`): ids are identities, so
    * a narrowing cast (long batch under an int-id index) silently
    * wrapping values into the saved footers would corrupt every later
    * lookup — unlike the vector columns, where a double→float downcast
    * loses precision, not identity, and is deliberate.
    */
  private def pinIdType(
      op: String,
      standing: org.apache.spark.sql.types.DataType,
      batch: DataFrame,
      idCol: String): Column = {
    val b = batch.schema(idCol).dataType
    if (standing == b) col(idCol)
    else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(b, standing))
      col(idCol).cast(standing)
    else throw new IllegalArgumentException(
      s"$op: batch id type $b cannot be losslessly cast to standing index id type $standing")
  }

  /** Add a batch to a SAVED index in place — the FAISS train/add split's
    * "add" leg: the coarse quantizer stays FROZEN (same centroids, so
    * existing cell assignments and probe routing remain valid) and the
    * new vectors' assignments append as new files under their cell
    * directories. One distributed projection + one partitioned append;
    * the standing assignments are never read, let alone rewritten —
    * day-2 ingestion cost is O(batch), not O(index). Centroid drift
    * under a shifting distribution is the caller's retrain signal
    * (rebuild + save, as FAISS re-trains).
    */
  def addToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid"))
      // bounded: nlist centroid rows
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    // Pin the appended files to the STANDING vector schema: an
    // array<double> batch appended under an array<float> index (or
    // vice versa) would leave conflicting parquet footers, and a later
    // load resolves from whichever footer wins. Numeric element types
    // cast; anything else (non-array, non-numeric elements) fails fast.
    val standing = spark.read.parquet(s"$path/assigned").schema
    val standingVec = standing("c_vec").dataType
    val castVec = (standingVec, batch.schema(vecCol).dataType) match {
      case (s, b) if s == b => col(vecCol)
      case (s @ ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        col(vecCol).cast(s)
      case (s, b) => throw new IllegalArgumentException(
        s"addToIvfIndex: batch vector type $b incompatible with standing index type $s")
    }
    // Same pin for the id column: a drifted id type (long index, int
    // batch) would poison the neighbor_id footers identically.
    val castId = pinIdType("addToIvfIndex", standing("neighbor_id").dataType, batch, idCol)
    batch.select(
      castId.as("neighbor_id"), castVec.as("c_vec"),
      nearestCentroid(col(vecCol), cents).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Reload a saved [[IvfIndex]]. Probing the loaded index prunes at
    * the parquet-partition level: `.where(cell IN probed)` becomes a
    * directory filter, so only nprobe/nlist of the corpus is read.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assigned")
      .select(col("neighbor_id"), col("c_vec"), col("cell").cast("int").as("cell"))
    IvfIndex(centroids, assigned, centroids.count().toInt)
  }

  /** Bounded, layout-INVARIANT deterministic training sample: the
    * `trainSample` lowest vectors by seeded content hash —
    * TakeOrderedAndProject (per-partition top-K, then a driver merge),
    * ONE projected corpus pass. Replaces `rdd.takeSample`, which was
    * seeded but partition-LAYOUT-sensitive: two round-13 probes ran
    * the same 200k vectors repartitioned 16 vs 64 ways, trained
    * different centroids, and emitted different survivor sets — a
    * violation of the repo-wide md5-threshold sampling rule (README
    * design rules).
    *
    * The sample is over DISTINCT vectors: identical content hashes
    * identically, so without dedup a corpus with heavy exact
    * replication would fill the whole sample with copies of its
    * lowest-hash few vectors (measured: the 100×-replicated probe
    * corpus yielded ~41 distinct training points for nlist=448 — a
    * handful of mega-cells and a quadratic candidate blowup). Dedup
    * trains the quantizer on the corpus's geometry, not its copy
    * counts.
    *
    * Execution shape: the obvious `distinct().orderBy(hash).limit(K)`
    * shuffles the WHOLE projected corpus to pick K rows — measured
    * 2-3× on the bench's quantizer gates and a terabyte-class shuffle
    * at 100 TB. Instead each partition keeps its own K lowest distinct
    * hashes in a bounded TreeMap (narrow, one pass), and only those
    * ≤ K·numPartitions candidate rows shuffle into the final global
    * top-K — set semantics, so the selected sample (and therefore the
    * trained centroids) is bit-identical to the naive plan and
    * independent of partitioning.
    */
  private def deterministicSample(corpus: DataFrame, vecCol: String,
      trainSample: Int, seed: Long): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val candidates = corpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .select(md5(concat(col("v").cast("string"), lit(seed.toString)))
        .as("h"), col("v"))
      .as[(String, Seq[Double])]
      .mapPartitions { it =>
        // bounded: at most trainSample entries live here
        val top = new java.util.TreeMap[String, Seq[Double]]()
        it.foreach { case (h, v) =>
          if ((top.size < trainSample || h < top.lastKey) &&
            !top.containsKey(h)) {
            top.put(h, v)
            if (top.size > trainSample) { top.remove(top.lastKey); () }
          }
        }
        import scala.jdk.CollectionConverters._
        top.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
      }
    candidates.toDF("h", "v")
      .dropDuplicates("h") // same content surviving from several partitions
      .orderBy(col("h"))
      // bounded: trainSample vectors, regardless of corpus size
      .limit(trainSample)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
  }

  /** Train the quantizer on a bounded driver-side sample (default 4096
    * vectors via [[deterministicSample]] — one projected top-K pass,
    * never a full-corpus k-means), then assign every corpus vector to
    * its cell with the fused [[graft.functions.NearestCentroid]]
    * codegen kernel in one distributed transform.
    *
    * Lloyd's iterations run ON THE DRIVER over the collected sample:
    * 4096 × dim doubles is microseconds of CPU, and pushing it through
    * a distributed k-means costs a Spark job per iteration — at any
    * scale the right split is "sample distributed, train local, assign
    * distributed" (the FAISS train/add split). Shared by
    * [[buildIvfIndex]] and [[Dedup.semanticPairs]].
    */
  private[operators] def trainCentroids(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int,
      trainSample: Int,
      seed: Long): Array[Array[Double]] = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(trainSample >= nlist, s"trainSample ($trainSample) must be >= nlist ($nlist)")
    trainCentroidsFromSample(
      deterministicSample(corpus, vecCol, trainSample, seed), nlist, seed)
  }

  /** Centroid training over an already-collected sample — the shared
    * tail of [[trainCentroids]], split out so [[buildIvfPqIndex]] can
    * feed ONE [[deterministicSample]] pass to both the coarse
    * quantizer and the PQ codebooks instead of scanning the projected
    * corpus twice for the identical sample.
    */
  private[operators] def trainCentroidsFromSample(
      sampleRaw: Array[Array[Double]],
      nlist: Int,
      seed: Long): Array[Array[Double]] = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(sampleRaw.nonEmpty, "trainCentroids: corpus is empty")
    val sample = majorityDimSample(sampleRaw)
    Similarity.lloydLocal(sample, math.min(nlist, sample.length), 10, seed)
  }

  /** The vectors of a non-empty sample's MAJORITY dimension, ties to
    * the lowest dim for determinism. Mixed-dimension corpora train on
    * it: lloydLocal assumes one dim (a truncated partial distance would
    * silently mis-train), and keying on the first sampled vector could
    * canonicalize a 1% minority dim. Assignment stays consistent:
    * NearestCentroid and PqEncode give other-dimension vectors a NULL
    * cell / code, so they simply never match a probe.
    */
  private def majorityDimSample(sampleRaw: Array[Array[Double]]): Array[Array[Double]] = {
    val majorityDim = sampleRaw.groupBy(_.length).view.mapValues(_.length)
      .toSeq.maxBy { case (dim, n) => (n, -dim) }._1
    sampleRaw.filter(_.length == majorityDim)
  }

  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      trainSample: Int = 4096,
      seed: Long = 42L): IvfIndex = {
    val centroidArr = trainCentroids(corpus, vecCol, nlist, trainSample, seed)
    buildIvfIndexFromCentroids(corpus, idCol, vecCol, centroidArr)
  }

  /** Assignment half of [[buildIvfIndex]] over pre-trained centroids —
    * lets [[buildIvfPqIndex]] reuse one training sample across both
    * quantizers.
    */
  private def buildIvfIndexFromCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroidArr: Array[Array[Double]]): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = CacheRegistry.persist(
      corpus.select(
        col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        nearestCentroid(col(vecCol), centroidArr).as("cell")))
    // centroids kept as double; the query side is cast to match so the
    // probe works for both array<float> and array<double> vectors.
    val centroids = centroidArr.zipWithIndex.toSeq
      .map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    IvfIndex(centroids, assigned, centroidArr.length)
  }

  private def sqDistLocal(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Driver-local Lloyd's with k-means++ seeding. Deterministic for a
    * fixed (sample, k, seed); empty clusters keep their previous
    * centroid. Input rows must share one dimension (they do — one
    * embedding column).
    */
  private[operators] def lloydLocal(
      points: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = points.length
    val dim = points(0).length
    // k-means++ seeding: next center drawn ∝ distance² to nearest chosen.
    val centers = new scala.collection.mutable.ArrayBuffer[Array[Double]](k)
    centers += points(rnd.nextInt(n))
    val minD = Array.fill(n)(Double.MaxValue)
    while (centers.length < k) {
      val last = centers.last
      var total = 0.0; var i = 0
      while (i < n) {
        val d = sqDistLocal(points(i), last)
        if (d < minD(i)) minD(i) = d
        total += minD(i); i += 1
      }
      var j = 0
      if (total > 0) {
        var target = rnd.nextDouble() * total
        while (j < n - 1 && target > minD(j)) { target -= minD(j); j += 1 }
      } else j = rnd.nextInt(n) // all points identical: any pick works
      centers += points(j)
    }
    val cents = centers.map(_.clone()).toArray
    val sums = Array.ofDim[Double](k, dim)
    val counts = new Array[Long](k)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(counts, 0L)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val d = sqDistLocal(p, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Probe an [[IvfIndex]]: queries pick their `nprobe` nearest
    * centroids (broadcast × broadcast, driver-cheap), candidates are an
    * equi-join on cell id — the shuffle carries each probed corpus
    * vector once. Recall < 1 by construction; raise `nprobe` to trade
    * compute for recall. Query ids must be unique ([[probeCells]]: a
    * repeated id probes with one of its vectors).
    */
  def ivfQuery(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val probed = probeCells(
      broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))),
      "query_id", "q_vec", index.centroids, nprobe, Seq("q_vec"))
    cosineTopK(index.assigned.join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id")), k)
  }

  /** One-shot IVF ANN: build (sampled training) + probe. Prefer
    * [[buildIvfIndex]] + [[ivfQuery]] when serving repeated batches —
    * the index is the expensive part and it is reusable.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame =
    ivfQuery(buildIvfIndex(corpus, idCol, vecCol, nlist, seed = seed), queries, idCol, vecCol, k, nprobe)

  /** Product-quantization index: per-subspace codebooks (m × kSub ×
    * dim/m doubles — a few KB, rides into codegen as a reference
    * object) plus the corpus compressed to `m` small codes per vector
    * (+ its reconstruction norm). This is the FAISS memory-compression
    * path: at 100 TB the codes table is ~dim·4/m× smaller than the raw
    * embeddings (64-dim float → 8 codes ≈ 32× lighter incl. the norm),
    * so an ADC scan touches a fraction of the bytes a brute-force scan
    * reads. Compose with [[IvfIndex]] by building the codes frame from
    * `ivf.assigned` (keep the `cell` column) for IVF-PQ.
    */
  final case class PqIndex(
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame,
      m: Int,
      kSub: Int) {
    /** Persist codes + codebooks (codebooks as one tiny parquet of
      * (subspace, codeword, vector) rows).
      */
    def save(path: String): Unit = {
      val spark = codes.sparkSession
      import spark.implicits._
      codes.write.mode("overwrite").parquet(s"$path/codes")
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
      }.toSeq.toDF("subspace", "codeword", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }
  }

  /** Add a batch to a SAVED PQ index in place — the FAISS add leg with
    * FROZEN codebooks, mirroring [[addToIvfIndex]]: the batch encodes
    * through the standing per-subspace codebooks (so existing codes and
    * every query LUT stay valid) and its code rows append under
    * `codes/`. One distributed encode + one append; the standing codes
    * are never read. Codebook drift under a shifting distribution is
    * the caller's retrain signal. The id column is pinned to the
    * standing index's type (numeric drift casts, anything else fails
    * fast — the [[addToIvfIndex]] schema-footer lesson).
    */
  def addToPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    val ix = loadPqIndex(spark, path) // codebooks are a few KB; codes stay lazy
    val idC = pinIdType("addToPqIndex", ix.codes.schema("neighbor_id").dataType, batch, idCol)
    pqCodes(batch, Seq(idC.as("neighbor_id")), col(vecCol), ix.codebooks)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** `df`'s `keep` columns plus its `vec` PQ-encoded through
    * `codebooks` with the fused [[graft.functions.PqEncode]] kernel
    * (`codes`), and `c_norm`: the exact norm of each vector's
    * RECONSTRUCTION (subspaces are disjoint, so ‖x̂‖² = Σ_j
    * ‖codeword_{j,code_j}‖² — a lookup-sum against the codeword-norm
    * table), which turns ADC dots into approximate cosines.
    */
  private def pqCodes(df: DataFrame, keep: Seq[Column], vec: Column,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val normLut = codebooks.flatMap(_.map(cw => cw.map(x => x * x).sum)).toSeq
    df.select(keep :+ pqEncode(vec, codebooks).as("codes"): _*)
      .withColumn("c_norm",
        sqrt(codeLookupSum(col("codes"), typedLit(normLut), codebooks(0).length)))
  }

  /** Reload a saved [[PqIndex]]. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("codeword"), col("vec"))
      // bounded: m x kSub codebook rows
      .collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val kSub = cbRows.map(_.getInt(1)).max + 1
    val codebooks = Array.ofDim[Array[Double]](m, kSub)
    cbRows.foreach { r =>
      codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    PqIndex(codebooks, spark.read.parquet(s"$path/codes"), m, kSub)
  }

  /** Per-subspace PQ codebook training on a bounded driver-side sample
    * — shared by [[buildPqIndex]] and [[buildIvfPqIndex]] (m tiny local
    * k-means runs over subvector slices).
    */
  private[operators] def trainPqCodebooks(
      corpus: DataFrame,
      vecCol: String,
      m: Int,
      kSub: Int,
      trainSample: Int,
      seed: Long): Array[Array[Array[Double]]] =
    trainPqCodebooksFromSample(
      deterministicSample(corpus, vecCol, trainSample, seed), m, kSub, seed)

  /** Codebook training over an already-collected sample — see
    * [[trainCentroidsFromSample]] for why the split exists.
    */
  private[operators] def trainPqCodebooksFromSample(
      sampleRaw: Array[Array[Double]],
      m: Int,
      kSub: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(kSub >= 1, s"kSub must be >= 1, got $kSub")
    require(sampleRaw.nonEmpty, "trainPqCodebooks: corpus is empty")
    val sample = majorityDimSample(sampleRaw)
    val dim = sample.head.length
    require(dim % m == 0,
      s"trainPqCodebooks: dimension $dim is not divisible into $m subspaces")
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      Similarity.lloydLocal(sub, math.min(kSub, sub.length), 10, seed + j)
    }
  }

  /** Train per-subspace codebooks on a bounded driver-side sample
    * (the same train/add split as [[buildIvfIndex]] — m tiny local
    * k-means runs), then encode the whole corpus distributed
    * ([[pqCodes]]: codes plus the reconstruction norm `c_norm`).
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      kSub: Int = 32,
      trainSample: Int = 4096,
      seed: Long = 42L): PqIndex = {
    val codebooks = trainPqCodebooks(corpus, vecCol, m, kSub, trainSample, seed)
    val codes = CacheRegistry.persist(
      pqCodes(corpus, Seq(col(idCol).as("neighbor_id")), col(vecCol), codebooks))
    // fixed-width codebooks: pad empty-cluster slots never happen
    // (lloydLocal keeps previous centroids), but k may clamp below kSub
    // on tiny corpora — rebuild kSub from what training produced.
    PqIndex(codebooks, codes, m, codebooks(0).length)
  }

  /** ADC top-k over a [[PqIndex]]: each (tiny, broadcast) query builds
    * its lookup table ONCE with the fused [[graft.functions.PqLut]]
    * kernel, then every corpus vector scores with m table lookups
    * ([[graft.functions.CodeLookupSum]]) — no float-vector reads at
    * all. `rerank > 0` re-scores the top-`rerank` ADC candidates per
    * query with exact cosine against `rerankWith` (id + vector — the
    * usual fetch-originals-by-id step) before cutting to k.
    */
  def pqQuery(
      index: PqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 0,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    require(rerank == 0 || rerankWith.nonEmpty,
      "pqQuery: rerank > 0 needs rerankWith (id + original vectors)")
    val q = broadcast(queries.select(
      col(idCol).as("query_id"),
      pqLut(col(vecCol), index.codebooks).as("lut"),
      l2Norm(col(vecCol)).as("q_norm")))
    adcTopK(index.codes.crossJoin(q), index.kSub, queries, idCol, vecCol, k,
      rerank, rerankWith)
  }

  /** ADC scoring and cut shared by [[pqQuery]] and [[ivfPqQuery]]:
    * `cand` rows pair a query (query_id, lut, q_norm) with a coded
    * vector (neighbor_id, codes, c_norm); self pairs drop, each scores
    * m table lookups ÷ both norms (0 when either norm is 0), and each
    * query keeps its top k — or its top max(rerank, k) when
    * `rerank > 0`, re-scored by exact cosine against `rerankWith` and
    * cut to k. Output (query_id, neighbor_id, adc | cosine, rank).
    */
  private def adcTopK(cand: DataFrame, kSub: Int, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, rerank: Int, rerankWith: Option[DataFrame]): DataFrame = {
    val scored = cand
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        when(col("q_norm") === 0.0 || col("c_norm") === 0.0, lit(0.0))
          .otherwise(
            codeLookupSum(col("codes"), col("lut"), kSub) /
              (col("q_norm") * col("c_norm"))))
    val top = topKPerQuery(scored, "adc", if (rerank > 0) math.max(rerank, k) else k)
    if (rerank == 0) {
      top.select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 4).as("adc"), col("rank"))
    } else {
      val corpus = rerankWith.get
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      val queriesV = broadcast(queries
        .select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
      cosineTopK(top.select(col("query_id"), col("neighbor_id"))
        .join(corpus, Seq("neighbor_id"))
        .join(queriesV, Seq("query_id")), k)
    }
  }

  /** One-shot PQ ANN: train + encode + ADC scan (+ exact rerank of the
    * top `rerank` when > 0). Prefer [[buildPqIndex]] + [[pqQuery]] for
    * repeated batches.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      kSub: Int = 32,
      rerank: Int = 0,
      trainSample: Int = 4096,
      seed: Long = 42L): DataFrame =
    pqQuery(
      buildPqIndex(corpus, idCol, vecCol, m, kSub, trainSample, seed),
      queries, idCol, vecCol, k, rerank,
      if (rerank > 0) Some(corpus) else None)

  /** IVF-PQ — the FAISS `IndexIVFPQ` shape, composing the two pruning
    * axes: the coarse quantizer cuts WHICH rows a probe reads
    * (`nprobe/nlist` of the corpus, a partition-level skip on the
    * saved layout) and PQ cuts HOW MANY BYTES each read row costs
    * (`m` codes + a norm instead of the float vector). At 100 TB this
    * is the only ANN shape whose scan cost is sub-linear in BOTH rows
    * and bytes; the codes frame keeps the `cell` column so a persisted
    * index prunes at the parquet-partition level exactly like
    * [[IvfIndex.save]].
    */
  final case class IvfPqIndex(
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame, // (cell, neighbor_id, codes, c_norm)
      nlist: Int,
      m: Int,
      kSub: Int)

  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      m: Int = 8,
      kSub: Int = 32,
      trainSample: Int = 4096,
      seed: Long = 42L): IvfPqIndex = {
    require(trainSample >= nlist,
      s"trainSample ($trainSample) must be >= nlist ($nlist)")
    // ONE sampling pass feeds both quantizers: the coarse centroids
    // and the PQ codebooks train on the identical (corpus, vecCol,
    // trainSample, seed) sample, so computing it twice was a whole
    // redundant projected-corpus scan per index build — at 100 TB, an
    // extra full read of the embedding column for zero information.
    val sampleRaw = deterministicSample(corpus, vecCol, trainSample, seed)
    val ivf = buildIvfIndexFromCentroids(corpus, idCol, vecCol,
      trainCentroidsFromSample(sampleRaw, nlist, seed))
    val codebooks = trainPqCodebooksFromSample(sampleRaw, m, kSub, seed)
    val codes = CacheRegistry.persist(
      pqCodes(ivf.assigned, Seq(col("cell"), col("neighbor_id")), col("c_vec"), codebooks))
    // Materialize the codes once, then release the full-float assigned
    // cache: IVF-PQ exists to avoid holding raw vectors, so keeping
    // `assigned` resident for the run would negate the compression
    // memory-wise.
    codes.count()
    CacheRegistry.release(ivf.assigned)
    IvfPqIndex(ivf.centroids, codebooks, codes, ivf.nlist, m, codebooks(0).length)
  }

  /** Probe an [[IvfPqIndex]]: each query picks its `nprobe` nearest
    * cells and builds its ADC lookup table ONCE (broadcast ×
    * broadcast, driver-cheap); candidates are an equi-join on cell id
    * scored by m table lookups — no float-vector reads. `rerank > 0`
    * re-scores the top ADC candidates with exact cosine against
    * `rerankWith` before cutting to k, as in [[pqQuery]]. Query ids
    * must be unique, as for [[ivfQuery]].
    */
  def ivfPqQuery(
      index: IvfPqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      rerank: Int = 0,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    require(rerank == 0 || rerankWith.nonEmpty,
      "ivfPqQuery: rerank > 0 needs rerankWith (id + original vectors)")
    val probed = probeCells(
      broadcast(queries.select(
        col(idCol).as("query_id"),
        pqLut(col(vecCol), index.codebooks).as("lut"),
        l2Norm(col(vecCol)).as("q_norm"),
        col(vecCol).as("q_vec"))),
      "query_id", "q_vec", index.centroids, nprobe, Seq("lut", "q_norm"))
    adcTopK(index.codes.join(broadcast(probed), Seq("cell")), index.kSub,
      queries, idCol, vecCol, k, rerank, rerankWith)
  }

  /** One-shot IVF-PQ ANN: train both quantizers + encode + probe. */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      kSub: Int = 32,
      rerank: Int = 0,
      trainSample: Int = 4096,
      seed: Long = 42L): DataFrame =
    ivfPqQuery(
      buildIvfPqIndex(corpus, idCol, vecCol, nlist, m, kSub, trainSample, seed),
      queries, idCol, vecCol, k, nprobe, rerank,
      if (rerank > 0) Some(corpus) else None)

  /** Count of near-neighbor pairs above a cosine threshold (corpus
    * self-similarity profile) — brute force within hyperplane buckets.
    */
  def thresholdPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame =
    Dedup.embeddingCosinePairs(corpus, idCol, vecCol, threshold)

  /** The deterministic ±1 projection matrix behind [[randomProject]]:
    * sign(j, i) = +1 iff the first md5 hex nibble of `seed:j:i` is
    * even — reproducible from the seed alone on any engine (the same
    * md5 contract as [[TrainingData.keyHash]]), no RNG state to ship.
    */
  private[graft] def jlSigns(
      inDim: Int, outDim: Int, seed: String): Array[Array[Float]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xf) % 2 == 0) 1.0f else -1.0f
    }

  /** Johnson–Lindenstrauss random projection (Achlioptas ±1 variant,
    * JCSS'03): compress an embedding column from `inDim` to `outDim`
    * dimensions as `proj_j = vec·g_j / sqrt(outDim)` over the
    * deterministic sign matrix [[jlSigns]] — the standard
    * dimensionality cut in front of an ANN index (pairwise distances
    * are preserved within 1±ε for outDim ~ O(log n / ε²)).
    *
    * A pure row-local projection: `outDim` fused [[graft.functions
    * .VectorFunctions.dot]] kernels against broadcast sign literals —
    * no shuffle, no state, embarrassingly parallel at any corpus
    * size. The dot accumulates ascending and ±1 multiplication is
    * float-exact, so each output coordinate is one deterministic IEEE
    * sum ÷ sqrt(outDim) — cross-engine bit-exact. Vectors of the
    * wrong length yield null coordinates (the kernel's contract).
    * Output: input columns + `proj` (array<double>, length outDim).
    */
  def randomProject(
      df: DataFrame,
      vecCol: Column,
      inDim: Int,
      outDim: Int,
      seed: String = "graft"): DataFrame = {
    require(inDim >= 1, s"randomProject: inDim must be >= 1, got $inDim")
    require(outDim >= 1 && outDim <= inDim,
      s"randomProject: need 1 <= outDim <= inDim, got $outDim (inDim $inDim)")
    val signs = jlSigns(inDim, outDim, seed)
    val scale = sqrt(lit(outDim.toDouble))
    df.withColumn("proj",
      array(signs.map(g => dot(vecCol, typedLit(g)) / scale).toIndexedSeq: _*))
  }

  /** Per-dimension standardization (whitening without rotation) of an
    * embedding column: `z_i = (x_i - μ_i) / σ_i` with population σ —
    * the preprocessing step in front of cosine/L2 indexes whenever
    * dimensions carry wildly different scales (and the cheap 99% of
    * "whitening": full PCA rotation needs an eigensolver; per-dim
    * scaling needs two passes and no linear algebra).
    *
    * Scale design: pass 1 posexplodes to (dim, x) narrow rows and
    * hash-aggregates per dimension — a shuffle of `dim` groups no
    * matter the corpus size; the `dim`-row result collects to the
    * driver (bounded by the embedding width, same contract as the
    * quantizer training collects) and re-enters the plan as broadcast
    * literals, so pass 2 is a pure row-local `transform` — no join, no
    * second shuffle. Constant dimensions (σ = 0) standardize to 0
    * rather than NaN. Output: input columns + `z` (array<double>).
    */
  def standardize(df: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    require(dim >= 1, s"standardize: dim must be >= 1, got $dim")
    val stats = df
      .select(posexplode(vecCol).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(avg(col("x").cast("double")).as("m"),
        stddev_pop(col("x").cast("double")).as("sd"))
      .orderBy(col("d"))
      // bounded: dim rows (one per vector dimension)
      .collect()
    require(stats.length == dim && stats.head.getInt(0) == 0,
      s"standardize: expected dims 0..${dim - 1}, got ${stats.length} groups " +
        "(ragged or empty vector column?)")
    val means = stats.map(_.getDouble(1))
    val sds = stats.map(_.getDouble(2))
    df.withColumn("z",
      transform(vecCol, (x, i) => {
        val m = element_at(typedLit(means), i + 1)
        val sd = element_at(typedLit(sds), i + 1)
        when(sd > 0.0, (x.cast("double") - m) / sd).otherwise(lit(0.0))
      }))
  }
}
