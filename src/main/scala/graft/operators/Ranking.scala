package graft.operators

import graft.core.CacheRegistry
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus term-weighting (TF-IDF / BM25) — the retrieval-scoring side
  * of the text family (north-star extension; the reference has no
  * ranking surface).
  *
  * Scale design: one explode over attribute-materialized words feeds a
  * (doc, term) hash-aggregate; document length and document frequency
  * both derive from that aggregate (no second pass over the corpus);
  * the global (N, avgdl) statistics row is a broadcast cross join, so
  * the only shuffles are the (doc, term) and (term) aggregations.
  */
object Ranking {

  /** Per-(doc, term) tf, TF-IDF (`tf · ln(N/df)`) and Okapi BM25
    * (`idf_bm25 · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))` with
    * `idf_bm25 = ln((N-df+0.5)/(df+0.5) + 1)`). Scores are rounded to
    * 4 decimals; the inputs to every division are exact integer
    * aggregates, so the only residual cross-engine hazard is ln()
    * itself (not guaranteed correctly-rounded by either libm) landing
    * within 1 ulp of a .00005 rounding boundary — ~1e-7 probability
    * per corpus, accepted and called out rather than hidden.
    */
  def termScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // tf is read by three consumers (score join, doc length, doc
    // frequency) — persist so the tokenize+explode runs once.
    val tf = CacheRegistry.persist(
      df.select(col(idCol).as("_id"), explode(words(col(textCol))).as("term"))
        .groupBy(col("_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")))
    val idf = log(col("n").cast("double") / col("df"))
    val idfBm25 = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(dl, "_id").join(dfreq, "term").crossJoin(stats)
      .select(
        col("_id").as(idCol),
        col("term"),
        col("tf"),
        round(col("tf") * idf, 4).as("tfidf"),
        round(
          idfBm25 * (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          4).as("bm25"))
  }

  /** Corpus top-k n-gram vocabulary with frequencies — the profiling
    * pass behind stop-gram lists, df-cap tuning, and boilerplate
    * detection. Multiset counts (every occurrence, not per-doc
    * distinct). Deterministic: rank ties break on the gram itself.
    *
    * Scale design: explode feeds one partial-aggregated hash-agg on
    * the gram key; the top-k is `orderBy(...).limit(k)`, which Spark
    * executes as TakeOrderedAndProject — per-partition heaps of k,
    * driver merges k·partitions rows, never a global sort.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 1, k: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val grams =
      if (n == 1) df.select(explode(words(col(textCol))).as("gram"))
      else df.select(col(textCol))
        .select(words(col(textCol)).as("_ws"))
        .where(size(col("_ws")) >= n) // multiset form: no short-doc fallback gram
        .select(explode(wordShinglesFromWords(col("_ws"), n)).as("gram"))
    grams.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram"))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) —
    * the standard hybrid-retrieval combiner: merge N independent
    * rankings of the same id space (lexical BM25, embedding cosine, a
    * recency prior, ...) into one list by
    *
    * {{{ rrf(id) = Σ_i 1/(k + rank_i(id)) }}}
    *
    * summing only over rankers that scored the id (a miss contributes
    * 0 — RRF's robustness to non-overlapping candidate sets is the
    * point). Each input frame carries `(idCol, "rank")`. The sum is a
    * FIXED left-to-right chain of `coalesce(1/(k+r), 0)` terms over
    * exact integer ranks, one IEEE division each — cross-engine
    * bit-exact because the ranker count (not the data) fixes the
    * operation order.
    *
    * Scale shape: a chain of full-outer equi-joins on the id — ranking
    * frames are top-k lists (bounded, broadcastable) in retrieval use,
    * or per-group ranks (window-partitioned, never a single-partition
    * global sort) in calibration use; nothing here shuffles more than
    * the rankings themselves. Output: `idCol, n_rankers, rrf`.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"rrfFuse: need >= 2 rankings, got ${rankings.size}")
    require(k >= 1, s"rrfFuse: k must be >= 1, got $k")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").cast("long").as(s"_r$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val terms = rankings.indices.map(i =>
      coalesce(lit(1.0) / (lit(k.toLong) + col(s"_r$i")).cast("double"), lit(0.0)))
    val present = rankings.indices.map(i =>
      when(col(s"_r$i").isNotNull, 1).otherwise(0))
    joined.select(col(idCol),
      present.reduce(_ + _).as("n_rankers"),
      terms.reduce(_ + _).as("rrf"))
  }

  /** Term burstiness (Church & Gale) — the "once it appears, does it
    * KEEP appearing" statistic a term-weighting or topic pipeline
    * reads beside raw frequency: content words are bursty (high
    * within-document repeat rate), function words are Poisson-flat,
    * and CF/DF separates them where CF alone can't. Two exact
    * integer readouts per term over its CONTAINING documents:
    *
    *  - `burst_ppm` = CF·10⁶ div DF — mean occurrences per
    *    containing doc (the Church-Gale burstiness);
    *  - `vmr_ppm` = (DF·Σc² − CF²)·10⁶ div ((DF−1)·CF) — the
    *    variance-to-mean ratio of the per-doc counts (Poisson ⇒ 1;
    *    ≫1 ⇒ clumpy), exact by Cauchy-Schwarz-nonnegative integer
    *    floors; null when DF < 2.
    *
    * Shape: one (term, doc) hash-aggregate (the only corpus-scale
    * shuffle), one per-term aggregate, global top-`k` by
    * (CF, term) via TakeOrdered — the driver sees k rows at any
    * corpus size. Output: (term, df, cf, burst_ppm, vmr_ppm).
    */
  def termBurstiness(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"termBurstiness: k must be >= 1, got $k")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perDoc = df
      .select(idCol.as("_doc"),
        explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .groupBy(col("_w"), col("_doc"))
      .agg(count(lit(1)).as("_c"))
    perDoc.groupBy(col("_w").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("_c")).as("cf"),
        sum(dec(col("_c")) * col("_c")).as("_q"))
      .select(col("term"), col("df"), col("cf"),
        expr("CAST(CAST(cf AS DECIMAL(38,0)) * 1000000 div df AS BIGINT)")
          .as("burst_ppm"),
        when(col("df") >= 2L && col("cf") > 0L,
          ((dec(col("df")) * col("_q") - dec(col("cf")) * col("cf")) *
            lit(1000000L)).cast("decimal(38,0)"))
          .as("_vn"))
      .withColumn("vmr_ppm",
        when(col("_vn").isNotNull,
          expr("CAST(_vn div (CAST(df - 1 AS DECIMAL(38,0)) * cf) AS BIGINT)")))
      .drop("_vn")
      .orderBy(col("cf").desc, col("term").asc)
      .limit(k)
  }

  /** Rank-biased overlap (Webber et al., TOIS'10) — "how similar are
    * two RANKINGS" with no gold labels: [[rankEval]] scores one
    * ranking against relevance judgments; RBO compares two systems
    * head-to-head (old ranker vs new ranker, yesterday's top-k vs
    * today's), weighting agreement at the TOP far above agreement in
    * the tail. Truncated form at persistence p = 1/2 (top-heavy, and
    * the weights become exact dyadic rationals):
    *
    * {{{ RBO = Σ_{i≤d} (1/2)^i · |A_{1..i} ∩ B_{1..i}| / i }}}
    *
    * Exactness: each depth's term is the integer ppm floor
    * (10⁶·ov(i)) div (2^i·i) and the statistic is the SUM of those
    * floors — bit-identical on any engine with integer division, no
    * pow() call anywhere (2^i is a literal power table). The overlap
    * ov(i) counts shared items whose ranks in BOTH lists are ≤ i —
    * a step function off one equi-join on the item id.
    *
    * Shape: one hash join of the two (≤ d)-row rankings, a d-row
    * depth frame, one broadcast d×d triangular sum — everything after
    * the caller's own ranking construction is bounded by d. Output
    * one row: (depth, n_a, n_b, overlap_full, rbo_ppm).
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String, depth: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 60,
      s"rankBiasedOverlap: depth must be in [1,60], got $depth")
    val spark = a.sparkSession
    def trunc(df: DataFrame, rn: String) =
      df.select(col(idCol).as("_id"), col(rankCol).cast("long").as(rn))
        .where(col(rn).between(1L, depth.toLong))
    val ta = trunc(a, "_ra")
    val tb = trunc(b, "_rb")
    val shared = ta.join(tb, Seq("_id"))
      .select(greatest(col("_ra"), col("_rb")).as("_m"))
      .groupBy(col("_m")).agg(count(lit(1)).as("_c"))
    val na = ta.agg(count(lit(1)).as("n_a"))
    val nb = tb.agg(count(lit(1)).as("n_b"))
    import spark.implicits._
    val depths = (1 to depth).map(_.toLong).toDF("_i")
    // d×d triangular broadcast sum: ov(i) = Σ_{m ≤ i} c(m)
    val ov = depths.join(broadcast(shared), col("_m") <= col("_i"), "left")
      .groupBy(col("_i"))
      .agg(coalesce(sum(col("_c")), lit(0L)).as("_ov"))
    ov.select(
        // 2^i as a shift — no pow(), exact at any depth ≤ 60
        sum(expr("_ov * 1000000 div (shiftleft(1L, CAST(_i AS INT)) * _i)"))
          .as("rbo_ppm"),
        max(when(col("_i") === depth.toLong, col("_ov"))).as("overlap_full"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(lit(depth.toLong).as("depth"), col("n_a"), col("n_b"),
        col("overlap_full"), col("rbo_ppm"))
  }

  /** Ranking-quality evaluation — per-query nDCG@k, MRR@k and
    * precision@k, the offline-eval loop every retrieval stack runs
    * after re-ranking changes (north-star extension; the reference has
    * no eval surface).
    *
    * Inputs: `ranked(queryCol, idCol, rank)` with rank starting at 1
    * (each (query, rank) unique), `relevance(queryCol, idCol, rel)`
    * with graded integer gains (absent pair = gain 0). Linear-gain DCG
    * with a NATURAL-log discount: `Σ gain/ln(rank+1)` — ln because
    * both engines compute the same libm-quality natural log, whereas
    * log2 is ln-ratio on one engine and a distinct libm call on the
    * other. Each discounted term is rounded to 6 decimals and summed
    * as DECIMAL(18,6), so the total is accumulation-order-proof;
    * nDCG = dcg/idcg divides the two exact decimals as doubles (one
    * IEEE op) and rounds to 6.
    *
    * Scale shape: `ranked` is already top-k per query (bounded fan-in
    * k rows/query); the relevance join is an equi-join on
    * (query, id); ideal ranks come from one rank() window partitioned
    * by query — nothing global. Output:
    * `queryCol, ndcg, mrr, precision, n_rel`.
    */
  def rankEval(
      ranked: DataFrame,
      relevance: DataFrame,
      queryCol: String,
      idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"rankEval: k must be >= 1, got $k")
    def term(gain: Column, rank: Column) =
      round(gain.cast("double") / log(rank.cast("double") + 1.0), 6)
        .cast("decimal(18,6)")
    val hits = ranked.where(col("rank") <= k)
      .join(
        relevance.select(col(queryCol), col(idCol), col("rel")),
        Seq(queryCol, idCol), "left")
      .select(
        col(queryCol), col("rank"),
        coalesce(col("rel"), lit(0L)).cast("long").as("gain"))
    val dcg = hits.groupBy(col(queryCol)).agg(
      sum(term(col("gain"), col("rank"))).as("dcg"),
      // first relevant rank → MRR@k; no relevant in top-k → 0
      coalesce(
        lit(1.0) / min(when(col("gain") > 0, col("rank"))).cast("double"),
        lit(0.0)).as("mrr"),
      (count(when(col("gain") > 0, 1)).cast("double") / k).as("precision"))
    // Ideal ordering: rel desc with the id as deterministic tiebreak.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol)).orderBy(col("rel").desc, col(idCol))
    val ideal = relevance.where(col("rel") > 0)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .groupBy(col(queryCol)).agg(
        sum(term(col("rel"), col("rank"))).as("idcg"),
        count(lit(1)).as("n_rel"))
    dcg.join(ideal, Seq(queryCol), "left").select(
      col(queryCol),
      when(col("idcg").isNull, lit(0.0))
        .otherwise(round(
          col("dcg").cast("double") / col("idcg").cast("double"), 6))
        .as("ndcg"),
      col("mrr"),
      col("precision"),
      coalesce(col("n_rel"), lit(0L)).as("n_rel"))
  }

  /** B-cubed clustering evaluation (Bagga & Baldwin '98) — the
    * standard extrinsic score for a dedup/linkage clustering against
    * gold labels (item-weighted, unlike pair-F1 it doesn't let one
    * giant cluster dominate):
    *
    *   P = (1/N)·Σ_items |pred∩gold cluster| / |pred cluster|
    *     = (1/N)·Σ_{cells (p,g)} n_pg² / n_p     (recall dually / n_g)
    *
    * Exact integer cell/marginal counts from ONE (p,g) aggregate
    * (marginals re-aggregate the cell frame — never a second corpus
    * scan); each cell's rational term is rounded to 6 dp and summed
    * as DECIMAL(18,6) so the score is accumulation-order-proof (the
    * [[rankEval]] / mutualInfo discipline). The final frame is
    * |P|·|G| cells — bounded by label cardinality, not rows. Items
    * with a null predicted OR gold label are excluded (documented:
    * unlabeled items score neither side).
    *
    * Returns one row: (n_items, bcubed_precision, bcubed_recall,
    * bcubed_f1), all 6-dp.
    */
  def bcubed(df: DataFrame, predictedCol: Column, goldCol: Column): DataFrame = {
    val cells = df
      .where(predictedCol.isNotNull && goldCol.isNotNull)
      .groupBy(predictedCol.as("_p"), goldCol.as("_g"))
      .agg(count(lit(1)).as("_npg"))
    val np = cells.groupBy(col("_p")).agg(sum(col("_npg")).as("_np"))
    val ng = cells.groupBy(col("_g")).agg(sum(col("_npg")).as("_ng"))
    val terms = cells
      .join(broadcast(np), Seq("_p"))
      .join(broadcast(ng), Seq("_g"))
      .select(
        col("_npg"),
        round((col("_npg") * col("_npg")).cast("double") /
          col("_np").cast("double"), 6).cast("decimal(18,6)").as("_tp"),
        round((col("_npg") * col("_npg")).cast("double") /
          col("_ng").cast("double"), 6).cast("decimal(18,6)").as("_tr"))
      .agg(sum(col("_npg")).as("n_items"),
        sum(col("_tp")).as("_sp"), sum(col("_tr")).as("_sr"))
    terms.select(
        col("n_items"),
        round(col("_sp").cast("double") / col("n_items").cast("double"), 6)
          .as("bcubed_precision"),
        round(col("_sr").cast("double") / col("n_items").cast("double"), 6)
          .as("bcubed_recall"))
      .withColumn("bcubed_f1",
        when(col("bcubed_precision") + col("bcubed_recall") === 0.0, lit(0.0))
          .otherwise(round(
            lit(2.0) * col("bcubed_precision") * col("bcubed_recall") /
              (col("bcubed_precision") + col("bcubed_recall")), 6)))
  }

  /** Exact phrase search over positional postings — the retrieval
    * operator BM25's bag-of-words scoring cannot express ("hash
    * table" ≠ documents containing both words somewhere).
    *
    * Shape: one posexplode gives (doc, position, word); each phrase
    * word's postings are FILTERED (pushed to the scan) and shifted so
    * every occurrence of the full phrase collapses to the same
    * (doc, start) key; k−1 equi-joins on that short key find the
    * matches. The joined frames carry (doc_id, start) pairs only —
    * never text — and each side is pre-shrunk to one word's postings,
    * the classic positional-index intersection an inverted index
    * would do, expressed as Catalyst joins so AQE can broadcast the
    * rarest word's postings. Returns (id, n_matches, first_pos) per
    * matching document.
    */
  def phraseSearch(df: DataFrame, idCol: Column, textCol: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: phrase must be non-empty")
    require(phrase.forall(_.nonEmpty), "phraseSearch: empty phrase word")
    val pos = df.select(idCol.as("_id"),
      posexplode(words(textCol)).as(Seq("_p", "_w")))
    val parts = phrase.zipWithIndex.map { case (w, i) =>
      pos.where(col("_w") === w).select(col("_id"), (col("_p") - i).as("_s"))
    }
    parts.reduce(_.join(_, Seq("_id", "_s")))
      .groupBy(col("_id").as("id"))
      .agg(count(lit(1)).as("n_matches"), min(col("_s")).as("first_pos"))
  }

  /** Adjusted Rand Index — the pair-counting companion of [[bcubed]]
    * (chance-corrected: random labelings score ~0, identity scores 1):
    *
    *   ARI = (Σ C(n_pg,2) − E) / (½(Σ C(n_p,2) + Σ C(n_g,2)) − E),
    *   E = Σ C(n_p,2)·Σ C(n_g,2) / C(N,2)
    *
    * Everything up to the final two divisions is exact integer pair
    * counting in DECIMAL(38,0) (C(n,2) sums can pass 2^63 exactly when
    * clusters are huge); same one-aggregate cell frame as bcubed, so
    * the cost is bounded by |P|·|G|, not rows. Returns one row:
    * (n_items, sum_comb_cells, sum_comb_pred, sum_comb_gold, ari).
    */
  def adjustedRand(df: DataFrame, predictedCol: Column, goldCol: Column): DataFrame = {
    def comb2(c: Column): Column =
      (c.cast("decimal(38,0)") * (c - 1)) / 2 // exact: n(n-1) is even
    val cells = df
      .where(predictedCol.isNotNull && goldCol.isNotNull)
      .groupBy(predictedCol.as("_p"), goldCol.as("_g"))
      .agg(count(lit(1)).as("_npg"))
    val np = cells.groupBy(col("_p")).agg(sum(col("_npg")).as("_np"))
    val ng = cells.groupBy(col("_g")).agg(sum(col("_npg")).as("_ng"))
    val parts = cells.agg(
        sum(col("_npg")).as("n_items"),
        sum(comb2(col("_npg"))).as("sum_comb_cells"))
      .crossJoin(broadcast(np.agg(sum(comb2(col("_np"))).as("sum_comb_pred"))))
      .crossJoin(broadcast(ng.agg(sum(comb2(col("_ng"))).as("sum_comb_gold"))))
    parts.select(
      col("n_items"),
      col("sum_comb_cells").cast("double").as("sum_comb_cells"),
      col("sum_comb_pred").cast("double").as("sum_comb_pred"),
      col("sum_comb_gold").cast("double").as("sum_comb_gold"),
      round({
        val total = comb2(col("n_items")).cast("double")
        val e = col("sum_comb_pred").cast("double") *
          col("sum_comb_gold").cast("double") / total
        val max = (col("sum_comb_pred").cast("double") +
          col("sum_comb_gold").cast("double")) / 2.0
        (col("sum_comb_cells").cast("double") - e) / (max - e)
      }, 6).as("ari"))
  }

  /** Skip-gram co-occurrence pairs with PMI — the word2vec-style
    * training-pair extraction plus the association score that
    * separates collocations from frequency accidents:
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = n_ab/T over
    * window pairs and p(w) = n_w/U over unigram occurrences.
    *
    * Shape: positions via posexplode, then a per-doc positional
    * self-join constrained to 1 ≤ pos_b − pos_a ≤ window — the join
    * shuffles narrow (doc, pos, token) rows on the doc key and each
    * doc contributes ≤ len·window pairs (window is the blowup cap).
    * Pairs are canonicalized (token_a < token_b) so left/right
    * contexts collapse; `minCount` prunes the long tail BEFORE the
    * stats join; top-k by count (token tiebreak) bounds the output.
    * Counts are exact bigints; PMI is a FIXED chain of three IEEE
    * divisions and one ln, rounded to 6dp (same ln caveat as
    * [[termScores]]). Output: (token_a, token_b, n_pair, n_a, n_b,
    * pmi).
    */
  def skipgramPmi(df: DataFrame, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 2L, k: Int = 100): DataFrame = {
    require(window >= 1, s"skipgramPmi: window must be >= 1, got $window")
    require(k >= 1, s"skipgramPmi: k must be >= 1, got $k")
    val toks = df
      .select(col(idCol).as("_doc"), posexplode(words(col(textCol))).as(Seq("_p", "_w")))
    val uni = toks.groupBy(col("_w")).agg(count(lit(1)).as("_cw"))
    val totals = uni.agg(sum(col("_cw")).as("_u"))
    val pairs = toks.as("a")
      .join(toks.as("b"),
        col("a._doc") === col("b._doc") &&
          col("b._p") > col("a._p") && col("b._p") <= col("a._p") + window)
      .select(least(col("a._w"), col("b._w")).as("token_a"),
        greatest(col("a._w"), col("b._w")).as("token_b"))
      .groupBy(col("token_a"), col("token_b"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val tPairs = pairs.agg(sum(col("n_pair")).as("_t"))
    pairs
      .join(uni.select(col("_w").as("token_a"), col("_cw").as("n_a")), Seq("token_a"))
      .join(uni.select(col("_w").as("token_b"), col("_cw").as("n_b")), Seq("token_b"))
      .crossJoin(broadcast(tPairs))
      .crossJoin(broadcast(totals))
      .select(col("token_a"), col("token_b"), col("n_pair"), col("n_a"), col("n_b"),
        // ((n_ab/T) · (U/n_a)) · (U/n_b): fixed op order, one ln
        round(log((col("n_pair").cast("double") / col("_t").cast("double")) *
          (col("_u").cast("double") / col("n_a").cast("double")) *
          (col("_u").cast("double") / col("n_b").cast("double"))), 6).as("pmi"))
      .orderBy(col("n_pair").desc, col("token_a"), col("token_b"))
      .limit(k)
  }

  /** χ² feature selection over a labeled corpus — "which terms
    * discriminate the positive class": for each term, the 2×2
    * document-presence table (term ∈ doc × label) scored by
    * χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) — the standard
    * vocabulary-pruning / domain-signature statistic.
    *
    * Presence is per-document DISTINCT (multiset counts would let one
    * chatty doc dominate); `minDf` prunes the hapax tail before the
    * stats join. Counts a,b are exact bigints from one (term, label)
    * hash-agg; c,d derive from the 1-row broadcast class totals. The
    * χ² itself is computed in DOUBLE on both engines (the N·(ad−bc)²
    * numerator can exceed 2⁶³ on big corpora; identical IEEE op order
    * keeps it cross-engine exact), rounded to 6dp. Top-k by (χ²,
    * term) with the direction flag (is the term OVER-represented in
    * the positive class). Output: (term, n_pos_docs, n_neg_docs,
    * chi2, positive_assoc).
    */
  def chi2Terms(df: DataFrame, idCol: String, textCol: String,
      labelCol: Column, minDf: Long = 2L, k: Int = 100): DataFrame = {
    require(k >= 1, s"chi2Terms: k must be >= 1, got $k")
    val docs = df.select(col(idCol).as("_doc"), labelCol.cast("long").as("_y"),
      col(textCol).as("_text")).where(col("_y").isNotNull)
    val totals = docs.agg(sum(col("_y")).as("_np"),
      (count(lit(1)) - sum(col("_y"))).as("_nn"))
    val presence = docs
      .select(col("_doc"), col("_y"), explode(words(col("_text"))).as("term"))
      .distinct()
    val counts = presence.groupBy(col("term"))
      .agg(sum(col("_y")).as("n_pos_docs"),
        (count(lit(1)) - sum(col("_y"))).as("n_neg_docs"))
      .where(col("n_pos_docs") + col("n_neg_docs") >= minDf)
    def d(c: Column) = c.cast("double")
    counts.crossJoin(broadcast(totals))
      .select(col("term"), col("n_pos_docs"), col("n_neg_docs"), {
        val a = d(col("n_pos_docs")); val b = d(col("n_neg_docs"))
        val c = d(col("_np")) - a;    val dd = d(col("_nn")) - b
        val n = d(col("_np")) + d(col("_nn"))
        val det = a * dd - b * c
        // a zero margin (term in EVERY doc, or a one-class corpus) makes
        // the table degenerate: no association is measurable -> chi2 0
        when(c + dd === 0.0d || a + c === 0.0d || b + dd === 0.0d, lit(0.0d))
          .otherwise(round((n * (det * det)) /
            (((a + b) * (c + dd)) * ((a + c) * (b + dd))), 6)).as("chi2")
      },
        // over-represented in positives: a/Np > b/Nn as cross-products
        (col("n_pos_docs") * col("_nn") > col("n_neg_docs") * col("_np"))
          .as("positive_assoc"))
      .orderBy(col("chi2").desc, col("term"))
      .limit(k)
  }

  /** Lexical diversity per group: total tokens, distinct types, the
    * type-token ratio in exact ppm, and the hapax share (types seen
    * once — the productive-vocabulary signal; boilerplate-heavy or
    * template-generated feeds crater both). One explode + two
    * map-combinable aggregates over (group, word) counts — bounded by
    * per-group vocabulary, never raw tokens, after the first combine.
    * Output: (group, n_tokens, n_types, ttr_ppm, hapax, hapax_ppm).
    */
  def typeTokenRatio(df: DataFrame, groupCol: Column, textCol: Column): DataFrame =
    df.select(groupCol.as("_g"), explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .groupBy(col("_g"), col("_w")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_g").as("group"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("group"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        col("hapax"), expr("hapax * 1000000 div n_types").as("hapax_ppm"))

  /** Chao1 vocabulary-richness estimate + Good-Turing coverage — the
    * "how much vocabulary HAVEN'T we crawled yet" pair [[heapsFit]]'s
    * growth curve extrapolates toward: Chao1 estimates the true
    * vocabulary size from the singleton/doubleton spectrum
    * (V + f₁(f₁−1)/(2(f₂+1)), the bias-corrected form — defined even
    * at f₂ = 0), and the Good-Turing estimate says the NEXT token is
    * unseen with probability f₁/N, i.e. sample coverage 1 − f₁/N.
    * Both drive corpus-acquisition stopping rules: coverage ≈ 1 and
    * chao1 ≈ V mean more of the same crawl buys little new text.
    *
    * Exact integers throughout: one explode → (token, count)
    * aggregate, then ONE map-combinable summary (N, V, f₁, f₂ are
    * conditional sums over it); chao1's correction and the coverage
    * ppm are single non-negative floor divs. Output one row:
    * (n_tokens, vocab, f1, f2, chao1_est, coverage_ppm).
    *
    * Scale contract: the only shuffle is the token aggregate (the
    * [[zipfFit]] shape); the spectrum never materializes row-wise.
    */
  def vocabRichness(df: DataFrame, textCol: Column): DataFrame = {
    val counts = df
      .select(explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    counts.agg(
        coalesce(sum(col("_c")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("vocab"),
        coalesce(sum(when(col("_c") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("f1"),
        coalesce(sum(when(col("_c") === 2L, 1L).otherwise(0L)), lit(0L))
          .as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        (col("vocab") +
          expr("""CAST(CAST(f1 AS DECIMAL(38,0)) * (f1 - 1)
                 |  div (2 * (f2 + 1)) AS BIGINT)""".stripMargin))
          .as("chao1_est"),
        when(col("n_tokens") > 0L,
          expr("""CAST((CAST(n_tokens AS DECIMAL(38,0)) - f1) * 1000000
                 |  div n_tokens AS BIGINT)""".stripMargin)).as("coverage_ppm"))
  }

  /** Yule's characteristic K — the length-stable repetitiveness
    * constant ([[vocabRichness]] asks "how much vocabulary is
    * missing"; K asks "how repetitive is what we HAVE"): K =
    * 10⁴·(Σc² − N)/N² over the token-frequency spectrum, the
    * probability two random tokens are the same type, debiased and
    * scaled. Near-invariant to corpus length (unlike raw TTR —
    * `q_ttr`'s known flaw), so it's the comparable-across-crawls
    * repetition score; boilerplate-heavy sources push it up.
    *
    * Exact integers: the same one-shuffle (token, count) aggregate,
    * one summary row, one non-negative floor div (Σc² ≥ N always).
    * Emitted in milli-K units: yule_k_milli = (Σc² − N)·10⁷ div N².
    * Output one row: (n_tokens, vocab, s2, yule_k_milli).
    */
  def yuleK(df: DataFrame, textCol: Column): DataFrame = {
    val counts = df
      .select(explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    counts.agg(
        coalesce(sum(col("_c")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("vocab"),
        coalesce(sum(col("_c").cast("decimal(38,0)") * col("_c")),
          lit(0L).cast("decimal(38,0)")).as("_s2"))
      .select(col("n_tokens"), col("vocab"),
        col("_s2").cast("long").as("s2"),
        when(col("n_tokens") > 0L,
          expr("""CAST((_s2 - n_tokens) * 10000000
                 |  div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)
                 |  AS BIGINT)""".stripMargin)).as("yule_k_milli"))
  }

  /** Zipf slope of the corpus frequency spectrum: OLS fit of
    * ln(freq) on ln(rank) over the top-`k` vocabulary — natural text
    * sits near −1; template spam and synthetic word soup drift
    * shallow. The rank frame is the top-k ONLY (orderBy+limit — k
    * rows, driver-bounded), per-term log terms are rounded to 6dp
    * DECIMAL before summing (the entropy/mutual-info order-proof
    * discipline), and the closed-form slope/intercept is one fixed
    * IEEE expression. Output: (k, slope, intercept).
    */
  def zipfFit(df: DataFrame, textCol: Column, k: Int = 100): DataFrame = {
    require(k >= 2, s"zipfFit: k must be >= 2, got $k")
    val counts = df
      .select(explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w").asc)
      .limit(k)
    val d6 = (c: Column) => round(c, 6).cast("decimal(18,6)")
    // rank over the k-row frame via the prefix-sum primitive — the
    // frame is limit-bounded so a window would be safe, but this keeps
    // the whole gate WindowExec-warning-free
    Relational.prefixSum(counts, Seq(col("_c").desc, col("_w").asc),
        lit(1L), "_rnk")
      .withColumn("_r", col("_rnk").cast("double"))
      .select(
        d6(log(col("_r"))).as("_x"), d6(log(col("_c").cast("double"))).as("_y"),
        d6(log(col("_r")) * log(col("_r"))).as("_xx"),
        d6(log(col("_r")) * log(col("_c").cast("double"))).as("_xy"))
      .agg(count(lit(1)).as("k"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"), sum(col("_xx")).as("_sxx"),
        sum(col("_xy")).as("_sxy"))
      .select(col("k"),
        round((col("k") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          (col("k") * col("_sxx") - col("_sx") * col("_sx")).cast("double"), 6)
          .as("slope"),
        round((col("_sy").cast("double") -
          ((col("k") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (col("k") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
            col("_sx").cast("double")) / col("k").cast("double"), 6)
          .as("intercept"))
  }

  /** Log-odds term comparison with an informative Dirichlet prior
    * (Monroe/Colaresi/Quinn's "Fightin' Words") — WHICH terms mark
    * corpus A against corpus B, the per-term companion of
    * [[graft.operators.Quality.jsDivergence]]'s single distance
    * number and the usage-rate alternative to [[chi2Terms]]' document
    * presence: δ_w = ln((y1+α)/(n1+A−y1−α)) − ln((y2+α)/(n2+A−y2−α))
    * with α_w = a0·pooled_w/pooled_total (the pooled corpus as prior,
    * strength `a0` pseudo-tokens), z_w = δ_w/√(1/(y1+α)+1/(y2+α)) —
    * the prior shrinks rare-word log-odds toward zero instead of
    * letting hapaxes dominate.
    *
    * Every term's z is one fixed IEEE chain over its own exact counts
    * (no cross-row float sums at all); the global top-k by |z| is a
    * TakeOrdered, never a sort. Two vocab-sized hash-aggs + one
    * full-outer + a 1-row broadcast total. Output k rows:
    * (term, n_a, n_b, delta, z), |z| descending, term tiebreak.
    */
  def logOddsTerms(a: DataFrame, b: DataFrame, tokenCol: Column,
      a0: Double = 100.0, k: Int = 100): DataFrame = {
    require(a0 > 0.0, s"logOddsTerms: prior strength a0 must be > 0, got $a0")
    require(k >= 1, s"logOddsTerms: k must be >= 1, got $k")
    def counted(df: DataFrame, cnt: String) = df.where(tokenCol.isNotNull)
      .groupBy(tokenCol.as("term")).agg(count(lit(1)).as(cnt))
    // persisted: feeds both the totals row and the scored frame —
    // without it each corpus is scanned and tokenized twice
    val joined = CacheRegistry.persist(
      counted(a, "_ya").join(counted(b, "_yb"), Seq("term"), "full_outer")
        .select(col("term"),
          coalesce(col("_ya"), lit(0L)).as("n_a"),
          coalesce(col("_yb"), lit(0L)).as("n_b")))
    val tot = joined.agg(sum(col("n_a")).as("_n1"), sum(col("n_b")).as("_n2"))
    val n1 = col("_n1").cast("double")
    val n2 = col("_n2").cast("double")
    val alpha = lit(a0) * (col("n_a") + col("n_b")).cast("double") / (n1 + n2)
    val y1 = col("n_a").cast("double") + alpha
    val y2 = col("n_b").cast("double") + alpha
    val delta = log(y1 / (n1 + lit(a0) - y1)) - log(y2 / (n2 + lit(a0) - y2))
    val z = delta / sqrt(lit(1.0d) / y1 + lit(1.0d) / y2)
    joined.crossJoin(broadcast(tot))
      .select(col("term"), col("n_a"), col("n_b"),
        round(delta, 6).as("delta"), round(z, 6).as("z"))
      .orderBy(abs(col("z")).desc, col("term").asc)
      .limit(k)
  }

  /** Heaps'-law fit V = K·T^β — the vocabulary-GROWTH companion of
    * [[zipfFit]]'s frequency slope and the number that sizes a
    * tokenizer's OOV budget before training: walk the corpus in doc-id
    * order and OLS ln V against ln T over the per-doc checkpoints
    * (T = cumulative tokens, V = cumulative distinct vocabulary).
    * Natural text lands β ≈ 0.4–0.6; β near 1 means the vocabulary
    * never saturates (ids, hashes — tokenize bytes instead).
    *
    * Scale: V needs no expanding-distinct — each word contributes at
    * its FIRST document (one min-agg over the posting explode), so
    * both running totals ride ONE [[Relational.prefixSums]] pass over
    * the |docs| frame (range-partitioned, no global window). The OLS
    * moments are per-doc 6dp DECIMAL terms ([[zipfFit]] discipline,
    * here over corpus-scale rows — exactly why the terms must be
    * order-proof). Docs with no tokens are excluded (T must strictly
    * increase). Output one row:
    * (n_docs, n_tokens, vocab, beta, ln_k).
    */
  def heapsFit(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val docs = CacheRegistry.persist(
      df.select(idCol.as("_id"), words(textCol).as("_ws"))
        .where(size(col("_ws")) > 0)
        .select(col("_id"), col("_ws"), size(col("_ws")).cast("long").as("_nt")))
    val firstSeen = docs
      .select(col("_id"), explode(col("_ws")).as("_w"))
      .groupBy(col("_w")).agg(min(col("_id")).as("_fd"))
      .groupBy(col("_fd").as("_id")).agg(count(lit(1)).as("_nv"))
    val joined = docs.select(col("_id"), col("_nt"))
      .join(firstSeen, Seq("_id"), "left")
      .select(col("_id"), col("_nt"), coalesce(col("_nv"), lit(0L)).as("_nv"))
    val cum = Relational.prefixSums(joined, Seq(col("_id")),
      Seq(col("_nt") -> "_T", col("_nv") -> "_V"))
    val d6 = (c: Column) => round(c, 6).cast("decimal(38,6)")
    val x = log(col("_T").cast("double"))
    val y = log(col("_V").cast("double"))
    cum
      .select(d6(x).as("_x"), d6(y).as("_y"), d6(x * x).as("_xx"),
        d6(x * y).as("_xy"), col("_nt"), col("_nv"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"),
        sum(col("_nv")).as("vocab"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"), sum(col("_xx")).as("_sxx"),
        sum(col("_xy")).as("_sxy"))
      .select(col("n_docs"), col("n_tokens"), col("vocab"),
        when(col("n_docs") >= 2L, round(
          (col("n_docs") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (col("n_docs") * col("_sxx") - col("_sx") * col("_sx")).cast("double"),
          6)).as("beta"),
        when(col("n_docs") >= 2L, round(
          (col("_sy").cast("double") -
            ((col("n_docs") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
              (col("n_docs") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
              col("_sx").cast("double")) / col("n_docs").cast("double"),
          6)).as("ln_k"))
  }

  /** Vocabulary coverage curve — the tokenizer-design readout: the
    * smallest frequency-ranked vocabulary whose words cover p% of all
    * corpus tokens. "32k words cover 97% of tokens" is the number
    * that decides a vocab size before any BPE run.
    *
    * The frequency CDF rides [[graft.operators.Relational.prefixSums]]
    * over the (count DESC, word) total order — vocabulary-scale, but
    * range-partitioned, never a one-task window; each coverage target
    * then reads min(rank | cum ≥ ⌈p·N⌉) exactly like the quantile
    * operators. Output: (p, vocab_size, tokens_covered, n_tokens).
    */
  def coverageCurve(df: DataFrame, textCol: Column,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"coverageCurve: probs must be in (0,1], got $probs")
    val counts = df.select(explode(words(textCol)).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    val cdf = Relational.prefixSums(counts, Seq(col("_c").desc, col("_w").asc),
      Seq(col("_c") -> "_cum", lit(1L) -> "_rank"))
    // total off the CACHED sorted frame (strictly increasing _cum)
    val n = cdf.agg(max(col("_cum")).as("_n"))
    // all coverage targets read off ONE conditional-min pass — no
    // per-prob filter+aggregate plans (the quantile-family move)
    val aggs = probs.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        min(when(col("_cum") >= ceil(lit(p) * col("_n")), col("_rank")))
          .as(s"_vs$i"),
        min(when(col("_cum") >= ceil(lit(p) * col("_n")), col("_cum")))
          .as(s"_tc$i"))
    }
    val one = cdf.crossJoin(broadcast(n))
      .groupBy(col("_n")).agg(aggs.head, aggs.tail: _*)
    val pv = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), col(s"_vs$i").as("vocab_size"),
        col(s"_tc$i").as("tokens_covered"))
    }
    one.select(explode(array(pv: _*)).as("_pv"), col("_n").as("n_tokens"))
      .select(col("_pv.p").as("p"), col("_pv.vocab_size").as("vocab_size"),
        col("_pv.tokens_covered").as("tokens_covered"), col("n_tokens"))
  }

  /** Simpson concentration per group — the EXACT-rational companion of
    * [[typeTokenRatio]]: D = Σ n_i(n_i−1) / (N(N−1)), the probability
    * two random tokens are the same word. High D = repetitive/
    * templated text (a handful of words dominate); reported in exact
    * ppm (all-integer numerator and denominator, one truncating
    * division — no float enters). Same (group, word) count frame as
    * TTR. Output: (group, n_tokens, simpson_ppm).
    */
  def simpsonIndex(df: DataFrame, groupCol: Column, textCol: Column): DataFrame =
    df.select(groupCol.as("_g"), explode(words(textCol)).as("_w"))
      .groupBy(col("_g"), col("_w")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_g").as("group"))
      .agg(sum(col("_c")).as("n_tokens"),
        sum(col("_c").cast("decimal(38,0)") * (col("_c") - 1L)).as("_num"))
      .where(col("n_tokens") >= 2)
      .select(col("group"), col("n_tokens"),
        // `div` is INTEGRAL division even on decimals (returns BIGINT,
        // truncating) — matches DuckDB // without decimal-scale rounding
        expr("_num * 1000000 div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))")
          .as("simpson_ppm"))

  /** Multi-class classifier scorecard: per class, gold/predicted
    * support, true positives, and precision/recall/F1 in exact ppm
    * (floor-div — no float in sight). Precision is NULL when the class
    * is never predicted, recall NULL when it never occurs in gold, F1
    * NULL unless both are defined and nonzero-summed — absent-side
    * classes surface as rows instead of silently vanishing (a gold
    * label the model can't emit, e.g. a language outside the
    * classifier's inventory, shows up with n_pred = 0).
    *
    * Scale: ONE count aggregate over the corpus reduces everything to
    * the (gold, pred) cell frame — bounded by |classes|², never row
    * count; the three derived frames and their full-outer joins run on
    * that. Same cell-frame discipline as [[bcubed]]/[[adjustedRand]].
    */
  def confusionStats(df: DataFrame, goldCol: Column, predCol: Column): DataFrame = {
    val cells = df.where(goldCol.isNotNull && predCol.isNotNull)
      .groupBy(goldCol.as("_g"), predCol.as("_p")).agg(count(lit(1)).as("_n"))
      .transform(CacheRegistry.checkpoint(_))
    val goldTot = cells.groupBy(col("_g").as("cls")).agg(sum(col("_n")).as("n_gold"))
    val predTot = cells.groupBy(col("_p").as("cls")).agg(sum(col("_n")).as("n_pred"))
    val tp = cells.where(col("_g") === col("_p"))
      .select(col("_g").as("cls"), col("_n").as("tp"))
    goldTot.join(predTot, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left_outer")
      .select(col("cls"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_ppm",
        when(col("n_pred") > 0, expr("tp * 1000000 div n_pred")))
      .withColumn("recall_ppm",
        when(col("n_gold") > 0, expr("tp * 1000000 div n_gold")))
      .withColumn("f1_ppm",
        when(col("precision_ppm").isNotNull && col("recall_ppm").isNotNull &&
          col("precision_ppm") + col("recall_ppm") > 0,
          expr("2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)")))
  }

  /** Quadratic-weighted kappa — [[agreementStats]]'s ordinal upgrade
    * and the competition-standard metric for graded labels: plain κ
    * scores a 1-vs-2 confusion as harshly as 1-vs-5, κ_w penalizes
    * by (i−j)², so near-misses on an ordinal scale (quality tiers,
    * priority bands, star ratings) cost almost nothing. Multiplying
    * the classic 1 − Σw·O / Σw·E through by N clears every expected
    * count:
    *
    * {{{ κ_w·10⁶ = 10⁶ − (N·Σ w_ij·O_ij · 10⁶) div (Σ w_ij·R_i·C_j) }}}
    *
    * — EXACT integers end-to-end (one floor), over the bounded
    * |gold|×|pred| cell grid with margins joined back (the dense
    * w·R·C sum is a k²-bounded cross of the two margin frames).
    * Degenerate margins (Σw·E = 0: one class on either side) report
    * null. Output one row: (n, k_gold, k_pred, kappa_w_ppm).
    */
  def weightedKappa(df: DataFrame, goldOrdCol: Column,
      predOrdCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(goldOrdCol.isNotNull && predOrdCol.isNotNull)
        .groupBy(goldOrdCol.cast("long").as("_g"),
          predOrdCol.cast("long").as("_p"))
        .agg(count(lit(1)).as("_c")))
    val gold = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_rg"))
    val pred = cells.groupBy(col("_p")).agg(sum(col("_c")).as("_cp"))
    val obs = cells.agg(sum(col("_c")).as("_n"),
      count(lit(1)).as("_cells"),
      sum(dec((col("_g") - col("_p")) * (col("_g") - col("_p"))) * col("_c"))
        .as("_wo"))
    val exp = gold.crossJoin(pred)
      .agg(count_distinct(col("_g")).as("k_gold"),
        count_distinct(col("_p")).as("k_pred"),
        sum(dec((col("_g") - col("_p")) * (col("_g") - col("_p"))) *
          col("_rg") * col("_cp")).as("_we"))
    obs.crossJoin(broadcast(exp))
      .select(col("_n").as("n"), col("k_gold"), col("k_pred"),
        when(col("_we") > 0,
          lit(1000000L) -
            expr("CAST(_n AS DECIMAL(38,0)) * _wo * 1000000 div _we")
              .cast("long")).as("kappa_w_ppm"))
  }

  /** Chance-corrected agreement between two labelings — Cohen's κ and
    * the multiclass Matthews correlation (Gorodkin's R_K), the two
    * scalars an LLM-eval pipeline reports beside [[confusionStats]]'
    * per-class table (raw percent agreement flatters any skewed label
    * distribution; κ and MCC discount what chance alone would match).
    *
    * From the same (gold, pred) cell frame: with N rows, A agreements,
    * class margins t_c (gold) and p_c (pred), S = Σ_c t_c·p_c —
    * κ = (A·N − S)/(N² − S) emitted as an EXACT integer ppm (both
    * engines truncate integral division identically), and
    * MCC = (A·N − S)/√(N²−Σp_c²)/√(N²−Σt_c²) as the one 6dp double
    * (exact DECIMAL radicands, one fixed IEEE shape). Margins are
    * |classes|-bounded: two tiny aggs over the cell frame. Output one
    * row: (n, n_classes, po_ppm, pe_ppm, kappa_ppm, mcc); κ/MCC null
    * when the denominators degenerate (single class / constant side).
    */
  def agreementStats(df: DataFrame, goldCol: Column, predCol: Column): DataFrame = {
    val cells = CacheRegistry.persist(
      df.where(goldCol.isNotNull && predCol.isNotNull)
        .groupBy(goldCol.as("_g"), predCol.as("_p")).agg(count(lit(1)).as("_n")))
    val gold = cells.groupBy(col("_g")).agg(sum(col("_n")).as("_tg"))
    val pred = cells.groupBy(col("_p")).agg(sum(col("_n")).as("_tp"))
    val margins = gold
      .join(pred, col("_g") === col("_p"), "full_outer")
      .select(coalesce(col("_tg"), lit(0L)).as("_tg"),
        coalesce(col("_tp"), lit(0L)).as("_tp"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("_tg").cast("decimal(38,0)") * col("_tp")).as("_s"),
        sum(col("_tg").cast("decimal(38,0)") * col("_tg")).as("_st2"),
        sum(col("_tp").cast("decimal(38,0)") * col("_tp")).as("_sp2"))
    val base = cells.agg(sum(col("_n")).as("n"),
      sum(when(col("_g") === col("_p"), col("_n")).otherwise(0L)).as("_a"))
      .crossJoin(broadcast(margins))
    val n2 = col("n").cast("decimal(38,0)") * col("n")
    val num = col("_a").cast("decimal(38,0)") * col("n") - col("_s")
    base.select(col("n"), col("n_classes"),
      expr("_a * 1000000 div n").as("po_ppm"),
      expr("CAST(_s * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
        .as("pe_ppm"),
      when(n2 - col("_s") > 0,
        expr("""CAST((CAST(_a AS DECIMAL(38,0)) * n - _s) * 1000000
               | div (CAST(n AS DECIMAL(38,0)) * n - _s) AS BIGINT)"""
          .stripMargin)).as("kappa_ppm"),
      when(n2 - col("_sp2") > 0 && n2 - col("_st2") > 0,
        round(num.cast("double") /
          (sqrt((n2 - col("_sp2")).cast("double")) *
            sqrt((n2 - col("_st2")).cast("double"))), 6)).as("mcc"))
  }

  /** Krippendorff's alpha (nominal) — [[fleissKappa]] requires every
    * item rated by EXACTLY n raters; α is the missing-data-tolerant
    * agreement coefficient real annotation projects need (raters come
    * and go; any unit with ≥ 2 ratings is evidence). α = 1 − D_o/D_e
    * with observed disagreement averaged over pairable values and
    * expected disagreement from the pooled category totals.
    *
    * Arithmetic: the per-unit term Σ_c o_uc(m_u − o_uc)/(m_u − 1) is
    * a genuine per-unit rational, so it lands as the house 6dp
    * DECIMAL term (one fixed IEEE division + round per unit — the
    * Mantel-Haenszel discipline; order-proof under decimal
    * summation), shifted to exact integer micros for the single
    * closing floor: with n_p = Σm_u and B = Σn_c²,
    * D_o/D_e = ΣD_u·(n_p−1)/(n_p²−B), emitted as ratio ppm and
    * α = 10⁶ − ratio (negative α — worse than chance — falls out
    * without a sign split since the floored ratio is non-negative).
    * α null when every rating is one category (D_e = 0). Units with
    * m_u < 2 have no pairable values: dropped and COUNTED.
    *
    * Shape: one (unit, category) aggregate, a per-unit window over
    * ≤ k rows, a per-unit k-bounded aggregate, category totals, one
    * summary row. Output: (n_units, n_dropped, n_pairable, k,
    * alpha_ppm).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: Column,
      categoryCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df.where(unitCol.isNotNull && categoryCol.isNotNull)
      .groupBy(unitCol.as("_u"), categoryCol.as("_c"))
      .agg(count(lit(1)).as("_o"))
    val sized = CacheRegistry.persist(
      cells.withColumn("_m",
        sum(col("_o")).over(Window.partitionBy(col("_u")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_m") < 2L, col("_u"))).as("n_dropped"))
    val kept = sized.where(col("_m") >= 2L)
    val perUnit = kept.groupBy(col("_u"))
      .agg(first(col("_m")).as("_mu"),
        sum(col("_o") * (col("_m") - col("_o"))).as("_dnum"))
      .select(col("_mu"),
        round(col("_dnum").cast("double") /
          (col("_mu") - 1L).cast("double"), 6)
          .cast("decimal(38,6)").as("_du"))
    val base = perUnit.agg(
      count(lit(1)).as("n_units"),
      coalesce(sum(col("_mu")), lit(0L)).as("n_pairable"),
      coalesce(sum(col("_du")), lit(0L).cast("decimal(38,6)")).as("_sdo"))
    val perCat = kept.groupBy(col("_c")).agg(sum(col("_o")).as("_nc"))
      .agg(count(lit(1)).as("k"),
        coalesce(sum(dec(col("_nc")) * col("_nc")), dec(lit(0L))).as("_B"))
    base.crossJoin(broadcast(perCat)).crossJoin(broadcast(dropAgg))
      .withColumn("_sdoM",
        (col("_sdo") * lit(1000000L)).cast("decimal(38,0)"))
      .withColumn("_de",
        dec(col("n_pairable")) * col("n_pairable") - col("_B"))
      .select(col("n_units"), col("n_dropped"), col("n_pairable"), col("k"),
        when(col("_de") > 0,
          lit(1000000L) -
            expr("CAST(_sdoM * (n_pairable - 1) div _de AS BIGINT)"))
          .as("alpha_ppm"))
  }

  /** Gwet's AC1 — the kappa-paradox fix in the agreement family:
    * [[fleissKappa]] collapses toward 0 on skewed category
    * prevalences even when raters almost always agree (the classic
    * paradox), because its chance term squares the marginals. AC1's
    * chance term Σπ_c(1−π_c)/(k−1) instead models "chance" as
    * rating the UNCERTAIN items, staying stable under skew — report
    * it beside κ whenever one category dominates (spam flags, safety
    * labels, dedup verdicts).
    *
    * Same complete-panel scaffolding as [[fleissKappa]] (items rated
    * by exactly n raters enter; off-size items dropped AND counted),
    * same P̄_o = A/(N·n(n−1)). With S = ΣC_j(Nn − C_j) and
    * D3 = (k−1)(Nn)², AC1 reduces (common N·n cancelled) to
    * (A·(k−1)·N·n − S·(n−1)) / ((n−1)·(D3 − S)) — exact
    * decimal(38,0), one sign-split ppm floor. Null when D3 = S
    * (k = 1 — a single observed category has no disagreement model).
    * Output one row: (n_items, n_dropped, n_raters, k, po_ppm,
    * pe_ppm, ac1_ppm).
    */
  def gwetAc1(df: DataFrame, itemCol: Column, categoryCol: Column,
      raters: Int): DataFrame = {
    require(raters >= 2, s"gwetAc1: raters must be >= 2, got $raters")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df.where(itemCol.isNotNull && categoryCol.isNotNull)
      .groupBy(itemCol.as("_i"), categoryCol.as("_c"))
      .agg(count(lit(1)).as("_o"))
    val sized = CacheRegistry.persist(
      cells.withColumn("_m",
        sum(col("_o")).over(Window.partitionBy(col("_i")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_m") =!= raters.toLong, col("_i")))
        .as("n_dropped"))
    val kept = sized.where(col("_m") === raters.toLong)
    val perCat = kept.groupBy(col("_c")).agg(sum(col("_o")).as("_cj"))
    val base = kept.agg(
      count_distinct(col("_i")).as("n_items"),
      coalesce(sum(dec(col("_o")) * (col("_o") - 1L)), dec(lit(0L))).as("_A"))
    val catAgg = base.crossJoin(broadcast(perCat))
      .groupBy(col("n_items"), col("_A"))
      .agg(count(lit(1)).as("k"),
        coalesce(sum(dec(col("_cj")) *
          (dec(col("n_items")) * raters.toLong - col("_cj"))), dec(lit(0L)))
          .as("_S"))
    catAgg.crossJoin(broadcast(dropAgg))
      .withColumn("_nn", dec(col("n_items")) * raters.toLong)
      .withColumn("_d1", col("_nn") * lit(raters.toLong - 1L))
      .withColumn("_d3", (col("k") - 1L) * col("_nn") * col("_nn"))
      .withColumn("po_ppm",
        when(col("_d1") > 0, expr("CAST(_A * 1000000 div _d1 AS BIGINT)")))
      .withColumn("pe_ppm",
        when(col("_d3") > 0, expr("CAST(_S * 1000000 div _d3 AS BIGINT)")))
      .select(col("n_items"), col("n_dropped"),
        lit(raters.toLong).as("n_raters"), col("k"),
        col("po_ppm"), col("pe_ppm"),
        when(col("_d1") > 0 && col("_d3") - col("_S") > 0,
          expr(s"""CAST(CASE
                 |  WHEN _A * (k - 1) * _nn >= _S * ${raters - 1}L
                 |  THEN (_A * (k - 1) * _nn - _S * ${raters - 1}L)
                 |    * 1000000 div (${raters - 1}L * (_d3 - _S))
                 |  ELSE -((_S * ${raters - 1}L - _A * (k - 1) * _nn)
                 |    * 1000000 div (${raters - 1}L * (_d3 - _S)))
                 |END AS BIGINT)""".stripMargin)).as("ac1_ppm"))
  }

  /** Fleiss' kappa — [[agreementStats]] handles exactly TWO raters in
    * fixed roles (gold vs pred); Fleiss generalizes to n
    * interchangeable raters per item (annotation panels, n-way model
    * ensembles, replicate labelers): do the n raters agree beyond
    * the chance their pooled category mix implies?
    *
    * Exact rational core: with o_ij the per-(item, category) rating
    * counts over the N items rated by exactly `raters` = n raters,
    * P̄_o = Σ o_ij(o_ij−1) / (N·n(n−1)) and P̄_e = Σ_j C_j² / (N·n)²
    * — κ reduces (the common N·n factor cancelled, keeping products
    * inside decimal(38,0) to N ≈ 10¹² items) to
    * (A·N·n − B·(n−1)) / ((n−1)·(N²n² − B)) with A = Σo(o−1) and
    * B = ΣC_j², all exact; the single ppm floor is sign-split (κ < 0
    * is real — agreement below chance), keeping the `div` numerator
    * non-negative (the Spark-`div`/DuckDB-`//` parity rule). κ null
    * when every rating is one category (P̄_e = 1). Items not rated
    * exactly n times drop and are COUNTED (`n_dropped`) — panel
    * incompleteness is never silent.
    *
    * Shape: one (item, category) aggregate, a per-item window over
    * ≤ k rows, a k-row category aggregate, one summary row — the
    * [[Analytics.friedman]] complete-block discipline. Output one
    * row: (n_items, n_dropped, n_raters, k, po_ppm, pe_ppm,
    * kappa_ppm).
    */
  def fleissKappa(df: DataFrame, itemCol: Column, categoryCol: Column,
      raters: Int): DataFrame = {
    require(raters >= 2, s"fleissKappa: raters must be >= 2, got $raters")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df.where(itemCol.isNotNull && categoryCol.isNotNull)
      .groupBy(itemCol.as("_i"), categoryCol.as("_c"))
      .agg(count(lit(1)).as("_o"))
    val sized = CacheRegistry.persist(
      cells.withColumn("_m",
        sum(col("_o")).over(Window.partitionBy(col("_i")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_m") =!= raters.toLong, col("_i")))
        .as("n_dropped"))
    val kept = sized.where(col("_m") === raters.toLong)
    val perCat = kept.groupBy(col("_c")).agg(sum(col("_o")).as("_cj"))
      .agg(count(lit(1)).as("k"),
        coalesce(sum(dec(col("_cj")) * col("_cj")), dec(lit(0L))).as("_B"))
    val base = kept.agg(
      count_distinct(col("_i")).as("n_items"),
      coalesce(sum(dec(col("_o")) * (col("_o") - 1L)), dec(lit(0L))).as("_A"))
    base.crossJoin(broadcast(perCat)).crossJoin(broadcast(dropAgg))
      .withColumn("_d1",
        dec(col("n_items")) * lit(raters.toLong) * lit(raters.toLong - 1L))
      .withColumn("_d2",
        dec(col("n_items")) * raters.toLong * col("n_items") *
          raters.toLong)
      .withColumn("po_ppm",
        when(col("_d1") > 0, expr("CAST(_A * 1000000 div _d1 AS BIGINT)")))
      .withColumn("pe_ppm",
        when(col("_d2") > 0, expr("CAST(_B * 1000000 div _d2 AS BIGINT)")))
      .select(col("n_items"), col("n_dropped"),
        lit(raters.toLong).as("n_raters"), col("k"),
        col("po_ppm"), col("pe_ppm"),
        when(col("_d1") > 0 && col("_d2") - col("_B") > 0,
          expr(s"""CAST(CASE
                 |  WHEN _A * n_items * ${raters}L >= _B * ${raters - 1}L
                 |  THEN (_A * n_items * ${raters}L - _B * ${raters - 1}L)
                 |    * 1000000 div (${raters - 1}L * (_d2 - _B))
                 |  ELSE -((_B * ${raters - 1}L - _A * n_items * ${raters}L)
                 |    * 1000000 div (${raters - 1}L * (_d2 - _B)))
                 |END AS BIGINT)""".stripMargin)).as("kappa_ppm"))
  }

  /** Tokenizer fertility per group — chars-per-subword and
    * subwords-per-word for each language/source: the tokenizer-
    * efficiency readout that decides real training cost (a language
    * at 2× fertility pays 2× the sequence length for the same text,
    * and a vocab change shows up here first). Uses the deterministic
    * BPE-ish subword approximation ([[graft.functions.TextFunctions.subwordCountApprox]])
    * so the ratio is comparable across rounds and engines.
    *
    * One map-combinable aggregate over the corpus; exact integer
    * sums and two ppm floors. Output per group: (group, n_docs,
    * n_chars, n_words, n_subwords, chars_per_subword_ppm,
    * fertility_ppm).
    */
  def tokenizerFertility(df: DataFrame, groupCol: Column,
      textCol: Column): DataFrame = {
    import graft.functions.TextFunctions._
    df.where(groupCol.isNotNull && textCol.isNotNull)
      .groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(textCol).cast("long")).as("n_chars"),
        sum(size(words(textCol)).cast("long")).as("n_words"),
        sum(subwordCountApprox(textCol)).as("n_subwords"))
      .withColumn("chars_per_subword_ppm",
        when(col("n_subwords") > 0L,
          expr("n_chars * 1000000 div n_subwords")))
      .withColumn("fertility_ppm",
        when(col("n_words") > 0L,
          expr("n_subwords * 1000000 div n_words")))
      .orderBy(col("group"))
  }

  /** Burrows' Delta — the stylometric distance between SOURCES: mean
    * |z-score gap| of the top-k corpus words' relative frequencies.
    * Content words wash out (both sources use "model" a lot); what
    * remains is function-word STYLE — the standard authorship /
    * machine-vs-human / template-family signal, and a corpus-curation
    * lens ("these two crawls are the same generator").
    *
    * Exactness: rates are integer ppm floors (c·10⁶ div tokens) on a
    * DENSE source × top-word grid (absent words rate 0 — Burrows'
    * convention), per-word n-cleared variance S_w = n·Σr² − (Σr)² is
    * decimal-exact, and the z-gap collapses to n·|r₁−r₂|/√S_w (the
    * means cancel in the difference) — one IEEE shape per (pair,
    * word), 6dp decimal term sums, one closing division by the
    * REALIZED top-word count (= min(k, distinct words) — when the
    * corpus has fewer than k distinct words the grid shrinks and the
    * mean is taken over the words that exist, not deflated by /k).
    * Zero-variance words contribute 0. Top-k selection rides
    * [[Relational.prefixSum]] over (−total, word) — no global window.
    * Pair frame is sources²·k (sources are few; words capped at k).
    * Output per pair (s1 < s2): (s1, s2, delta).
    */
  def burrowsDelta(df: DataFrame, sourceCol: Column, textCol: Column,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"burrowsDelta: k must be >= 1, got $k")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val toks = df.where(sourceCol.isNotNull && textCol.isNotNull)
      .select(sourceCol.cast("string").as("_s"),
        explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
    val counts = CacheRegistry.persist(
      toks.groupBy(col("_s"), col("_w")).agg(count(lit(1)).as("_c")))
    val srcTot = CacheRegistry.persist(counts.groupBy(col("_s")).agg(sum(col("_c")).as("_n")))
    val top = Relational.prefixSum(
      counts.groupBy(col("_w")).agg(sum(col("_c")).as("_t"))
        .select(col("_w"), (-col("_t")).as("_nt")),
      Seq(col("_nt"), col("_w")), lit(1L), "_rank")
      .where(col("_rank") <= k).select(col("_w"))
    val dense = CacheRegistry.persist(
      srcTot.crossJoin(broadcast(top))
        .join(counts, Seq("_s", "_w"), "left")
        .select(col("_s"), col("_w"),
          expr("coalesce(_c, 0) * 1000000 div _n").as("_r")))
    val nSrc = srcTot.agg(count(lit(1)).as("_ns"))
    val stats = dense.groupBy(col("_w"))
      .agg(sum(dec(col("_r"))).as("_sr"),
        sum(dec(col("_r")) * col("_r")).as("_srr"))
      .crossJoin(broadcast(nSrc))
      .select(col("_w"), col("_ns"),
        (dec(col("_ns")) * col("_srr") - col("_sr") * col("_sr"))
          .cast("decimal(38,0)").as("_sw"))
    val a = dense.select(col("_w"), col("_s").as("s1"), col("_r").as("_r1"))
    val b = dense.select(col("_w"), col("_s").as("s2"), col("_r").as("_r2"))
    a.join(b, Seq("_w")).where(col("s1") < col("s2"))
      .join(broadcast(stats), Seq("_w"))
      .select(col("s1"), col("s2"),
        when(col("_sw") > 0,
          round(col("_ns").cast("double") *
            abs(col("_r1") - col("_r2")).cast("double") /
            sqrt(col("_sw").cast("double")), 6))
          .otherwise(lit(0.0d)).cast("decimal(18,6)").as("_term"))
      .groupBy(col("s1"), col("s2"))
      .agg(round(sum(col("_term")).cast("double") /
        count(lit(1)).cast("double"), 6).as("delta"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Cronbach's alpha — internal consistency of k ITEMS scored over n
    * units: do the per-item signals move together enough that their
    * sum is a reliable composite? The reliability gate on any
    * multi-signal quality score (k heuristic columns summed into one
    * "document quality") before trusting the composite: α near 1
    * means the items agree, near 0 means the sum is noise.
    *
    * {{{ α = k/(k−1) · (1 − Σᵢ Var(xᵢ) / Var(Σᵢ xᵢ)) }}}
    *
    * with every variance in the n-cleared exact form n·Σx² − (Σx)²
    * (decimal(38,0)) so α = k·(S_tot − ΣSᵢ) / ((k−1)·S_tot) is ONE
    * IEEE division of exact integers, rounded 6dp. A (unit, item)
    * pair absent from the input scores 0 — the sparse-matrix
    * convention (an event count that didn't happen IS zero), which is
    * what lets the whole computation ride per-item and per-unit
    * aggregates with no dense pivot: item sums ignore zeros, and n is
    * the distinct-unit count. Null when S_tot = 0 (all unit totals
    * equal) or k < 2.
    *
    * Shape: one groupBy to the (unit, item, score) cell frame, one
    * per-item and one per-unit aggregate, three broadcast-sized
    * closings — no window, no pivot, unit cardinality never
    * materialized wider than the cell frame. Output one row:
    * (n_units, k_items, alpha).
    */
  def cronbachAlpha(df: DataFrame, unitCol: Column, itemCol: Column,
      scoreCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(unitCol.isNotNull && itemCol.isNotNull &&
          scoreCol.isNotNull)
        .groupBy(unitCol.as("_u"), itemCol.as("_i"))
        .agg(sum(scoreCol.cast("long")).as("_x")))
    val nk = cells.agg(count_distinct(col("_u")).as("_n"),
      count_distinct(col("_i")).as("_k"))
    val items = cells.groupBy(col("_i"))
      .agg(sum(dec(col("_x"))).as("_sx"),
        sum(dec(col("_x")) * col("_x")).as("_sxx"))
      .crossJoin(broadcast(nk))
      .agg(coalesce(sum(dec(col("_n")) * col("_sxx") -
        col("_sx") * col("_sx")), dec(lit(0L))).as("_si"))
    val tot = cells.groupBy(col("_u")).agg(sum(col("_x")).as("_t"))
      .agg(coalesce(sum(dec(col("_t"))), dec(lit(0L))).as("_st"),
        coalesce(sum(dec(col("_t")) * col("_t")), dec(lit(0L))).as("_stt"))
    nk.crossJoin(broadcast(items)).crossJoin(broadcast(tot))
      .withColumn("_stot",
        (dec(col("_n")) * col("_stt") - col("_st") * col("_st"))
          .cast("decimal(38,0)"))
      .select(col("_n").as("n_units"), col("_k").as("k_items"),
        when(col("_k") >= 2L && col("_stot") > 0,
          round((dec(col("_k")) * (col("_stot") - col("_si")))
              .cast("double") /
            ((dec(col("_k")) - 1L) * col("_stot")).cast("double"), 6))
          .as("alpha"))
  }

  /** Intraclass correlation ICC(1,1) — absolute agreement of k
    * interchangeable raters per unit under the one-way random-effects
    * model: how much of the total rating variance is BETWEEN units
    * (signal) rather than within a unit's panel (rater noise)? The
    * continuous-rating counterpart of [[fleissKappa]]'s categorical
    * panels — the gate on "are k LLM-judge scores per document
    * consistent enough to average".
    *
    * Complete panels only (exactly k ratings per unit — incomplete
    * units counted and dropped, the fleiss discipline). With exact
    * decimal(38,0) P = n·ΣT² − G² (nk·SSB) and Q = nk·Σx² − n·ΣT²
    * (nk·SSW), the ANOVA ratio clears every denominator to
    *
    * {{{ ICC = (P·n(k−1) − Q·(n−1)) / ((k−1)·(P·n + Q·(n−1))) }}}
    *
    * — ONE IEEE division of exact integers, rounded 6dp, null when
    * the denominator degenerates (all ratings identical) or n < 2.
    * Output one row: (n_units, n_dropped, k_raters, icc).
    */
  def iccOneWay(df: DataFrame, unitCol: Column, ratingCol: Column,
      raters: Int): DataFrame = {
    require(raters >= 2, s"iccOneWay: raters must be >= 2, got $raters")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val k = raters.toLong
    val per = CacheRegistry.persist(
      df.where(unitCol.isNotNull && ratingCol.isNotNull)
        .groupBy(unitCol.as("_u"))
        .agg(count(lit(1)).as("_m"), sum(ratingCol.cast("long")).as("_t"),
          sum(dec(ratingCol.cast("long")) * ratingCol.cast("long"))
            .as("_q")))
    val dropAgg = per.agg(
      count_distinct(when(col("_m") =!= k, col("_u"))).as("n_dropped"))
    val kept = per.where(col("_m") === k)
      .agg(count(lit(1)).as("_n"),
        coalesce(sum(dec(col("_t"))), dec(lit(0L))).as("_g"),
        coalesce(sum(dec(col("_t")) * col("_t")), dec(lit(0L))).as("_stt"),
        coalesce(sum(col("_q")), dec(lit(0L))).as("_sxx"))
    kept.crossJoin(broadcast(dropAgg))
      .withColumn("_p",
        (dec(col("_n")) * col("_stt") - col("_g") * col("_g"))
          .cast("decimal(38,0)"))
      .withColumn("_q2",
        (dec(col("_n")) * k * col("_sxx") - dec(col("_n")) * col("_stt"))
          .cast("decimal(38,0)"))
      .withColumn("_den",
        (lit(k - 1L) * (col("_p") * col("_n") +
          col("_q2") * (col("_n") - 1L))).cast("decimal(38,0)"))
      .select(col("_n").as("n_units"), col("n_dropped"),
        lit(k).as("k_raters"),
        when(col("_n") >= 2L && col("_den") > 0,
          round((col("_p") * col("_n") * lit(k - 1L) -
              col("_q2") * (col("_n") - 1L)).cast("double") /
            col("_den").cast("double"), 6)).as("icc"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
    * graph-based complement of [[termScores]]' frequency weighting: a
    * word matters because it co-occurs with words that matter, which
    * surfaces connective vocabulary TF-IDF's rarity bias buries. Built
    * ENTIRELY by composition: adjacent-word pairs (window 2, the
    * original paper's default) over the [[words]] kernel become an
    * undirected co-occurrence graph, and
    * [[graft.operators.Graph.pageRank]]'s scaled-integer supersteps
    * rank it — bit-exact on any engine/partitioning, same oracle
    * unroll as q_pagerank.
    *
    * Graph construction: bigrams → (a ≠ b, both ≥ `minLen` chars;
    * the cheap stopword cut the paper applies via POS filtering) →
    * canonical (least, greatest) DISTINCT pairs → both directions.
    * Scale shape: one explode over attribute-materialized words, one
    * distinct on the pair key, then pageRank's one-join-one-aggregate
    * iterations over the persisted edge frame; the only shuffles
    * carry (word, word) pairs and |V|-row score frames. Output: top
    * `k` (word, score), score on [[Graph.pageRank]]'s 10⁹ scale.
    */
  def textRank(df: DataFrame, textCol: String, iters: Int = 3,
      k: Int = 30, minLen: Int = 3): DataFrame = {
    require(iters >= 1 && k >= 1 && minLen >= 1,
      s"textRank: iters/k/minLen must be >= 1, got $iters/$k/$minLen")
    val adj = df.select(words(col(textCol)).as("_ws"))
      .where(size(col("_ws")) >= 2)
      .select(explode(wordShinglesFromWords(col("_ws"), 2)).as("_g"))
      .select(substring_index(col("_g"), " ", 1).as("_a"),
        substring_index(col("_g"), " ", -1).as("_b"))
      .where(length(col("_a")) >= minLen && length(col("_b")) >= minLen &&
        col("_a") =!= col("_b"))
    val und = adj.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val edges = und.select(col("_u").as("src"), col("_v").as("dst"))
      .unionAll(und.select(col("_v").as("src"), col("_u").as("dst")))
    Graph.pageRank(edges, "src", "dst", iters, checkpointIters = 2)
      .orderBy(col("score").desc, col("node").asc)
      .limit(k)
      .select(col("node").as("word"), col("score"))
  }
}
