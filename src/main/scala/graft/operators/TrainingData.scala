package graft.operators

import graft.core.CacheRegistry
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup/similarity: deterministic sampling, per-domain
  * balancing, document chunking, repetition-based quality stats,
  * PII redaction, sequence packing, and train/benchmark contamination
  * checks. (North-star extensions beyond the reference; everything is
  * a declarative plan — no UDFs, no driver loops — so each scales with
  * the cluster and stays inside whole-stage codegen.)
  *
  * Scale design notes:
  *  - sampling/redaction are pure row-local projections (no shuffle);
  *  - balancing/packing shuffle once on their explicit partition key —
  *    never on a global order;
  *  - chunking explodes bounded windows, so output ~ tokens/stride;
  *  - repetition stats and contamination are explode + hash-aggregate
  *    pipelines whose shuffle carries (id, gram) keys, not documents,
  *    with the same df-cap guard as [[Dedup.ngramJaccardPairs]].
  */
object TrainingData {

  /** Deterministic hash sampling: keep a row iff the first 8 hex chars
    * of md5(seed:key) fall below `fraction` of the 32-bit space.
    * Reproducible across engines and runs (md5 is standardized; equal-
    * width lowercase hex compares lexicographically = numerically) —
    * unlike `rand()`-based sampling, a retry or a different partition
    * layout cannot change the sample.
    */
  def hashKeep(keyCol: Column, fraction: Double, seed: String = "graft"): Column = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    keyHash(keyCol, seed) < lit(hexThreshold(fraction))
  }

  /** The `seed:key` string every salted hash is computed over — ONE
    * definition shared by sampling ([[keyHash]]) and
    * [[deterministicShuffle]], so the salt format can never drift
    * between them.
    */
  def saltedKey(keyCol: Column, seed: String): Column =
    concat(lit(seed), lit(":"), keyCol.cast("string"))

  /** The shared sampling hash: first 8 hex chars of md5(seed:key). One
    * definition so hashSample and stratifiedSample can never drift
    * apart (their equality at a uniform fraction is a documented
    * invariant, mirrored in the DuckDB oracles).
    */
  def keyHash(keyCol: Column, seed: String): Column =
    substring(md5(saltedKey(keyCol, seed)), 1, 8)

  /** `floor(fraction * 2^32)` as 8-digit lowercase hex; fraction 1.0
    * maps to `"g"`, which sorts after every hex string, so keep-all
    * really keeps ALL rows (a 0xffffffff threshold with the strict `<`
    * would drop the ~1-in-4.3B rows whose hash prefix is exactly
    * ffffffff).
    */
  def hexThreshold(fraction: Double): String =
    if (fraction >= 1.0) "g"
    else f"${(fraction * 4294967296.0).toLong}%08x"

  def hashSample(df: DataFrame, keyCol: Column, fraction: Double, seed: String = "graft"): DataFrame =
    df.where(hashKeep(keyCol, fraction, seed))

  /** Stratified deterministic sampling: per-stratum keep fractions
    * (e.g. downsample boilerplate-heavy domains, keep all of a rare
    * language). Strata with no entry keep `defaultFraction`. Pure
    * projection + filter — the stratum column never shuffles.
    *
    * The fractions map compiles into an O(|strata|) when-chain in the
    * plan, so it is hard-capped at [[maxStrata]] entries: beyond that
    * the expression tree (and codegen) degrades and the map belongs in
    * a broadcast-joined threshold table instead — build one with
    * `df.join(broadcast(thresholds), ...)` and filter on the joined
    * column using the same [[hexThreshold]] encoding.
    */
  val maxStrata = 10000

  def stratifiedSample(
      df: DataFrame,
      strataCol: Column,
      keyCol: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0,
      seed: String = "graft"): DataFrame = {
    require(fractions.size <= maxStrata,
      s"stratifiedSample: ${fractions.size} strata exceed maxStrata=$maxStrata " +
        "(the per-stratum when-chain would dominate the plan); join a " +
        "broadcast threshold table instead")
    val threshold = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (stratum, f)) => when(strataCol === stratum, lit(hexThreshold(f))).otherwise(acc)
    }
    df.where(keyHash(keyCol, seed) < threshold)
  }

  /** Deterministic weighted sampling — pick `k` rows per group (or
    * globally when `groupCols` is empty) with probability increasing
    * in `weightCol`, without randomness: priority sampling in the
    * Duffield–Lund–Thorup shape. Each row draws the shared md5 uniform
    * ([[keyHash]], 32 bits as a bigint) and is ranked by
    * `u div weight` — heavier rows draw stochastically smaller ranks —
    * and the k smallest ranks win. Retry-proof and engine-portable:
    * rank is one truncating bigint divide of the standard hash, so an
    * external engine (the DuckDB oracle) reproduces the exact sample.
    * Rows with a non-positive or null weight are dropped.
    *
    * Scale shape: grouped → ONE shuffle on `groupCols`, per-group
    * row_number over (rank, key) with k bounded; global → sort-free
    * TakeOrderedAndProject (top-k per partition, k·|partitions| rows
    * to one reducer — never a full sort).
    */
  def weightedSample(
      df: DataFrame,
      keyCol: Column,
      weightCol: Column,
      k: Int,
      groupCols: Seq[Column] = Nil,
      seed: String = "graft",
      rankCol: String = "sample_rank"): DataFrame = {
    require(k > 0, s"weightedSample: k must be > 0, got $k")
    val ranked = df
      .withColumn("_w", weightCol.cast("long"))
      .where(col("_w") > 0)
      .withColumn("_u", conv(keyHash(keyCol, seed), 16, 10).cast("long"))
      .withColumn(rankCol, expr("_u div _w"))
    val out =
      if (groupCols.isEmpty)
        ranked.orderBy(col(rankCol), keyCol).limit(k)
      else {
        val w = Window.partitionBy(groupCols: _*).orderBy(col(rankCol), keyCol)
        ranked.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k).drop("_rn")
      }
    out.drop("_w", "_u")
  }

  /** Temperature-flattened mixture resampling (multilingual-corpus
    * style source balancing): each domain keeps fraction
    * `(c_min / c_domain)^(1 - temperature)` — temperature 1 keeps the
    * natural distribution, temperature → 0 flattens toward uniform,
    * and the rarest domain always keeps everything. Keep decisions are
    * the same md5-threshold rule as [[hashSample]], so the sample is
    * retry-proof and engine-portable.
    *
    * Scale notes: the domain-count aggregate collects |domains| rows to
    * the driver (one eager action at call time; domains are a bounded
    * vocabulary by definition) and the keep filter is a row-local
    * when-chain projection — the corpus itself never shuffles. Fraction
    * math uses only IEEE-exact operations at the default temperature
    * (divide + sqrt), so an external engine recomputing the thresholds
    * (the DuckDB oracle does) reproduces the sample bit-for-bit. Rows
    * with a null domain are dropped (they match no count bucket).
    *
    * The domain vocabulary is hard-capped at [[maxStrata]]: the counts
    * collect to the driver and compile into stratifiedSample's
    * when-chain, so an unbounded-cardinality column (a URL, an id)
    * passed as "domain" must fail fast, not OOM the driver. The cap is
    * enforced with a `limit(cap+1)` BEFORE the collect — the driver
    * never materializes more than cap+1 rows even on a pathological
    * input.
    */
  def mixtureSample(
      df: DataFrame,
      domainCol: Column,
      keyCol: Column,
      temperature: Double = 0.5,
      seed: String = "graft"): DataFrame = {
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature must be in (0,1], got $temperature")
    // Domain counts collect to the driver (|domains| rows — domains are
    // a bounded vocabulary by definition) so the fractions go through
    // the SAME hexThreshold encoding as every other sampler in this
    // file — one definition, no Column-side re-implementation to drift.
    val counts = df.groupBy(domainCol.cast("string").as("_dom"))
      .agg(count(lit(1)).as("_cnt"))
      .limit(maxStrata + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.size <= maxStrata,
      s"mixtureSample: more than $maxStrata distinct domains — the domain " +
        "column looks unbounded (url/id?); pre-bucket it or raise maxStrata")
    require(counts.nonEmpty, "mixtureSample: input is empty")
    val minCnt = counts.values.min.toDouble
    val fractions = counts.map { case (dom, c) =>
      val ratio = minCnt / c
      dom -> (if (temperature == 0.5) math.sqrt(ratio)
              else math.pow(ratio, 1.0 - temperature))
    }
    // defaultFraction 0: a null domain matched no count bucket — drop.
    stratifiedSample(df, domainCol.cast("string"), keyCol, fractions,
      defaultFraction = 0.0, seed = seed)
  }

  /** Source-concentration readout — Herfindahl-Hirschman index over a
    * key's share of the corpus: the one-number answer to "is this
    * training mix dominated by a handful of sources" that a top-N
    * listing understates (HHI weights by share², so two 40% sources
    * read very differently from forty 2% ones). Exact integer ppm:
    * hhi_ppm = Σcᵢ²·10⁶ div n² (decimal-widened — Σc² wraps int64 at
    * corpus scale), top share the same way; effective_k_milli =
    * 10⁹ div hhi_ppm is the equivalent count of equal-share sources
    * (the diversity form mixture planners actually budget with).
    * One map-combinable aggregate over the |keys| frame. Output one
    * row: (k, n, hhi_ppm, top_share_ppm, effective_k_milli).
    */
  def concentration(df: DataFrame, keyCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    df.where(keyCol.isNotNull)
      .groupBy(keyCol.as("_k")).agg(count(lit(1)).as("_c"))
      .agg(count(lit(1)).as("k"), sum(col("_c")).as("n"),
        sum(dec(col("_c")) * col("_c")).as("_sq"), max(col("_c")).as("_top"))
      .withColumn("_n2", dec(col("n")) * col("n"))
      .select(col("k"), col("n"),
        expr("_sq * 1000000 div _n2").cast("long").as("hhi_ppm"),
        expr("CAST(_top AS DECIMAL(38,0)) * 1000000 div n").cast("long")
          .as("top_share_ppm"))
      .withColumn("effective_k_milli",
        when(col("hhi_ppm") > 0L, expr("1000000000L div hhi_ppm")))
  }

  /** Robust (MAD) outlier flagging: per group, median and median
    * absolute deviation, then `|x - med| > k * 1.4826 * mad` — the
    * robust z-score every quality pipeline uses where mean/stddev
    * would be dragged by the outliers themselves. Two grouped exact
    * percentiles + a broadcast join of the per-group stats (|groups|
    * rows); the corpus shuffles once per percentile pass. 1.4826
    * rescales MAD to σ under normality. Constant-valued groups
    * (mad = 0) flag any deviation from the median.
    */
  def madOutliers(
      df: DataFrame,
      groupBy: Seq[Column],
      valueCol: Column,
      k: Double = 3.0): DataFrame = {
    require(k > 0.0, s"madOutliers: k must be positive, got $k")
    val gNames = groupBy.zipWithIndex.map { case (_, i) => s"_g$i" }
    val keyed = df.withColumns(gNames.zip(groupBy).toMap)
    val med = keyed.groupBy(gNames.map(col): _*)
      .agg(percentile(valueCol, lit(0.5)).as("_med"))
    val withMed = keyed.join(broadcast(med), gNames)
    val mad = withMed.groupBy(gNames.map(col): _*)
      .agg(percentile(abs(valueCol - col("_med")), lit(0.5)).as("_mad"))
    withMed.join(broadcast(mad), gNames)
      .withColumn("is_outlier", abs(valueCol - col("_med")) > lit(k * 1.4826) * col("_mad"))
      .withColumnsRenamed(Map("_med" -> "med", "_mad" -> "mad"))
      .drop(gNames: _*)
  }

  /** Per-domain cap (corpus balancing): keep at most `k` rows per
    * group in a deterministic order — rank-window form, one shuffle on
    * the group key, partial TopK pushed below the shuffle by Spark's
    * WindowGroupLimit rule (same engine path as
    * [[Relational.topKPerGroup]], kept here under its pipeline intent).
    */
  def capPerGroup(df: DataFrame, groupBy: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame =
    Relational.topKPerGroup(df, groupBy, orderBy, k)

  /** Overlapping word-window chunks (the RAG / context-window splitter):
    * windows of `window` words every `stride` words; the final chunk is
    * allowed to be partial so every token is covered (chunk count =
    * `max(ceil((tokens - window) / stride) + 1, 1)`). Output rows carry
    * (id columns.., chunk_id, chunk, n_tokens). Words are materialized
    * as an attribute first so the tokenizer runs once per document, not
    * once per chunk; output volume ~ tokens/stride per doc.
    */
  def chunkWords(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive, got $window/$stride")
    // stride > window would silently skip the tokens between chunks,
    // breaking the every-token-covered contract documented above.
    require(stride <= window, s"stride ($stride) must be <= window ($window) for full coverage")
    val nChunks = greatest(
      ceil((size(col("_ws")) - lit(window)).cast("double") / lit(stride)) + lit(1L), lit(1L))
    df.select(idCols.map(col) :+ words(col(textCol)).as("_ws"): _*)
      .select(
        idCols.map(col) :+ col("_ws") :+
          explode(sequence(lit(1L), (nChunks - 1L) * stride + 1L, lit(stride.toLong)))
            .as("_start"): _*)
      .select(
        idCols.map(col) :+
          ((col("_start") - 1) / stride).cast("long").as("chunk_id") :+
          array_join(slice(col("_ws"), col("_start").cast("int"), lit(window)), " ").as("chunk") :+
          least(lit(window), size(col("_ws")) - col("_start") + 1)
            .cast("long").as("n_tokens"): _*)
  }

  /** TOKEN-exact overlapping chunking: [[chunkWords]] with the window
    * measured in BPE tokenizer tokens — what a context-window pipeline
    * actually counts (a 2048-"word" chunk can overflow a 2048-TOKEN
    * context; the trainer sees tokens, so the splitter must count
    * them). Tokens come from the engine's own fused
    * [[graft.functions.Bpe]] encoder (the learned `merges` ride along
    * as a reference object — no join, no UDF registry), the document
    * is tokenized ONCE and the token array materialized before the
    * chunk explode, and every token is covered (final chunk partial;
    * `stride <= window`). A chunk boundary may fall MID-WORD — that is
    * the correct token-window semantics — so `chunk` is emitted as the
    * detokenized text with `</w>` markers turned into spaces and NO
    * trimming/padding: concatenating a document's chunks in chunk_id
    * order rebuilds the exact detokenized stream (the lossless
    * round-trip law `q_chunk_tokens` gates; same discipline as
    * `q_bpe`). Output: (id columns.., chunk_id, chunk, n_tokens).
    */
  def chunkTokens(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      merges: Seq[(String, String)],
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive, got $window/$stride")
    require(stride <= window, s"stride ($stride) must be <= window ($window) for full coverage")
    val nChunks = greatest(
      ceil((size(col("_ts")) - lit(window)).cast("double") / lit(stride)) + lit(1L), lit(1L))
    df.select(idCols.map(col) :+
        graft.functions.Bpe.encode(words(col(textCol)), merges).as("_ts"): _*)
      .select(
        idCols.map(col) :+ col("_ts") :+
          explode(sequence(lit(1L), (nChunks - 1L) * stride + 1L, lit(stride.toLong)))
            .as("_start"): _*)
      .select(
        idCols.map(col) :+
          ((col("_start") - 1) / stride).cast("long").as("chunk_id") :+
          regexp_replace(
            array_join(slice(col("_ts"), col("_start").cast("int"), lit(window)), ""),
            "</w>", " ").as("chunk") :+
          least(lit(window), size(col("_ts")) - col("_start") + 1)
            .cast("long").as("n_tokens"): _*)
  }

  /** Per-document n-gram repetition statistics (the Gopher-style
    * repetition quality signals): fraction of all n-gram occurrences
    * taken by the single most frequent n-gram (`top_frac`) and the
    * distinct-gram fraction (`distinct_frac`). High top_frac / low
    * distinct_frac = boilerplate or degenerate repetition. Explode →
    * two hash-aggregates; the shuffle carries (id, gram) keys.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    df.select(col(idCol).as("id"), words(col(textCol)).as("_ws"))
      .select(col("id"), explode(wordShinglesFromWords(col("_ws"), n)).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(
        sum(col("c")).as("_total"),
        max(col("c")).as("_top"),
        count(lit(1)).as("_distinct"))
      .select(
        col("id"),
        col("_total").as("n_grams"),
        round(col("_top").cast("double") / col("_total"), 4).as("top_frac"),
        round(col("_distinct").cast("double") / col("_total"), 4).as("distinct_frac"))

  /** Gopher-style document quality filter (Rae et al. 2021, table A1
    * subset): word count band, mean-word-length band, symbol-character
    * ratio cap, alphabetic-character floor, stopword-ratio band. One
    * pure-scalar codegen projection — every rule is deterministic
    * arithmetic over the same tokenizer the rest of the engine uses, so
    * the whole filter is oracle-reproducible in ANSI SQL and runs
    * inside whole-stage codegen (no UDF, no shuffle, no join: at
    * 100 TB this is a map-only pass that fuses into the scan).
    * Returns the stats, per-rule booleans and the conjunction `keep`;
    * compose with `.where(col("keep"))` to drop.
    */
  def qualityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaRatio: Double = 0.5,
      minStopwordRatio: Double = 0.0,
      maxStopwordRatio: Double = 0.6): DataFrame = {
    val text = col(textCol)
    val nWords = size(words(text))
    val noSpace = length(regexp_replace(text, "\\s", ""))
    val meanWordLen = when(nWords === 0, lit(0.0))
      .otherwise(noSpace.cast("double") / nWords)
    val symbolRatio = when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))
    val alphaRatio = when(noSpace === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / noSpace)
    val stopRatio = graft.functions.TextFunctions.stopwordRatio(text)
    val rules = Seq(
      "words_ok" -> nWords.between(minWords, maxWords),
      "word_len_ok" -> meanWordLen.between(minMeanWordLen, maxMeanWordLen),
      "symbol_ok" -> (symbolRatio <= maxSymbolRatio),
      "alpha_ok" -> (alphaRatio >= minAlphaRatio),
      "stopword_ok" -> stopRatio.between(minStopwordRatio, maxStopwordRatio))
    df.select(
      Seq(
        col(idCol).as("id"),
        nWords.as("n_words"),
        round(meanWordLen, 4).as("mean_word_len"),
        round(symbolRatio, 4).as("symbol_ratio"),
        round(alphaRatio, 4).as("alpha_ratio"),
        round(stopRatio, 4).as("stopword_ratio")) ++
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** PII redaction: emails → `<EMAIL>`, NNN-NNN-NNNN phones → `<PHONE>`.
    * Regexes chosen from the RE2-compatible subset so the exact same
    * pattern runs in any engine; pure codegen projection, no shuffle.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>")

  /** Concat-and-chunk sequence packing (the standard LLM pre-training
    * layout): per partition key, documents in `orderBy` order are laid
    * end-to-end on a token tape that is chopped into fixed `budget`-
    * token sequences. Emits each document's starting sequence index and
    * offset within it. One shuffle on the partition key — the partition
    * key (shard / source / date bucket) is the unit of packing, so no
    * global order and no single-partition window at any scale.
    */
  def packSequences(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      tokensCol: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_begin", sum(tokensCol.cast("long")).over(w) - tokensCol.cast("long"))
      .withColumn("seq_index", floor(col("_begin") / budget))
      .withColumn("seq_offset", col("_begin") % budget)
      .drop("_begin")
  }

  /** [[packSequences]] with the budget measured in BPE tokenizer
    * TOKENS — the layout the trainer actually fills: each document's
    * token count comes from the engine's own fused
    * [[graft.functions.Bpe]] encoder over the learned `merges` (one
    * narrow codegen pass — tokenize, count, discard the tokens), then
    * the same one-shuffle per-partition-key tape arithmetic. Output
    * adds `n_tokens` beside seq_index/seq_offset.
    */
  def packSequencesByTokens(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      textCol: String,
      merges: Seq[(String, String)],
      budget: Long): DataFrame =
    packSequences(
      df.withColumn("n_tokens",
        size(graft.functions.Bpe.encode(words(col(textCol)), merges)).cast("long")),
      partitionBy, orderBy, col("n_tokens"), budget)

  /** Train/benchmark contamination check: training documents sharing at
    * least `minShared` distinct word n-grams with any benchmark
    * document. Bench-side grams join the (df-capped) train postings on
    * the gram — the shuffle carries (id, gram) keys; `maxDocFreq` drops
    * grams occurring in more than that many TRAIN docs (stop-gram
    * quadratic guard, same contract as [[Dedup.ngramJaccardPairs]]:
    * affects which low-signal grams can count toward the overlap, so
    * mirror it in any oracle).
    */
  def contaminationCheck(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minShared: Int = 2,
      maxDocFreq: Int = 1000): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), words(col(textCol)).as("_ws"))
        .select(col(as), explode(array_distinct(wordShinglesFromWords(col("_ws"), n))).as("g"))
    // The train postings feed both the df-cap aggregate and the overlap
    // join — persist so the corpus is shingled once, not twice (same
    // contract as ngramJaccardPairs; released by CacheRegistry).
    val tg = CacheRegistry.persist(grams(train, "train_id"))
    val rare = tg.groupBy("g").agg(count(lit(1)).as("df")).where(col("df") <= maxDocFreq)
    tg.join(rare, "g")
      .join(grams(bench, "bench_id"), "g")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-document n-gram NOVELTY vs a reference corpus: for each probe
    * document, the fraction of its distinct word n-grams that appear
    * NOWHERE in the corpus. The inverse lens of [[contaminationCheck]]:
    * contamination flags pairwise overlap (memorization risk between
    * train and bench), novelty scores each incoming document's new
    * information against the standing corpus — the "is this batch
    * adding anything?" ingestion gate.
    *
    * All counts are exact integers and `novelty = n_unseen / n_grams`
    * is a single IEEE double division of two exact longs, so the
    * output is cross-engine bit-exact.
    *
    * Scale shape: the corpus is reduced to its DISTINCT gram set (one
    * hash-aggregate — grams, never documents); the probe grams join it
    * on the gram key, so every shuffle carries (id, gram) or bare gram
    * strings of n words. Corpus text never moves past the shingle
    * projection; no broadcast assumption on either side.
    */
  def noveltyScore(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), words(col(textCol)).as("_ws"))
        .select(col(as), explode(array_distinct(wordShinglesFromWords(col("_ws"), n))).as("g"))
    val seen = grams(corpus, "corpus_id").select(col("g")).distinct()
      .withColumn("_seen", lit(1))
    grams(probe, "probe_id")
      .join(seen, Seq("g"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_seen")).as("n_seen"))
      .select(
        col("probe_id"), col("n_grams"),
        (col("n_grams") - col("n_seen")).as("n_unseen"),
        ((col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** Per-document bigram language-model fluency score vs a reference
    * corpus — the CCNet/Gopher-style "train a small LM on trusted
    * text, score candidates by how well it predicts them" quality
    * filter, re-expressed with exact integer arithmetic so the score
    * is cross-engine bit-exact (no log/pow, which are libm-divergent):
    *
    * For each adjacent word pair (w1, w2) of a probe document, the
    * add-one-smoothed conditional probability under the corpus bigram
    * model, in fixed point:
    * {{{ p = (c2(w1 w2) + 1) · scale div (c1(w1) + V) }}}
    * where c2 = corpus count of the bigram, c1 = corpus count of w1 as
    * a left context (bigrams starting with w1), V = distinct corpus
    * vocabulary. Output per probe doc: `n_bigrams`, exact
    * `score_scaled = Σ p`, and `avg_prob = score / (n·scale)` (one
    * IEEE division of two exact longs). Documents with fewer than two
    * words score nothing and are excluded, both engines alike.
    *
    * Scale shape: the corpus collapses to its bigram/context count
    * tables (hash aggregates keyed by gram strings — counts, never
    * documents); V is one scalar aggregate joined by literal cross
    * join. Probe bigrams join the count tables on the gram key, so
    * every shuffle carries (id, gram) pairs or counted grams — the
    * same (id, gram) discipline as [[noveltyScore]] and
    * [[contaminationCheck]].
    */
  def lmScore(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"lmScore: scale must be > 0, got $scale")
    def bigrams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), words(col(textCol)).as("_ws"))
        .where(size(col("_ws")) >= 2)
        .select(col(as), explode(wordShinglesFromWords(col("_ws"), 2)).as("g"))
    val cb = bigrams(corpus, "corpus_id")
    val c2 = cb.groupBy(col("g")).agg(count(lit(1)).as("_c2"))
    val c1 = cb.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("_c1"))
    val vocab = corpus.select(words(col(textCol)).as("_ws"))
      .select(explode(col("_ws")).as("w")).agg(countDistinct(col("w")).as("_v"))
    bigrams(probe, "probe_id")
      .join(c2, Seq("g"), "left")
      .join(c1, substring_index(col("g"), " ", 1) === col("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("probe_id"),
        ((coalesce(col("_c2"), lit(0L)) + 1) * lit(scale)).as("_num"),
        (coalesce(col("_c1"), lit(0L)) + col("_v")).as("_den"))
      .select(col("probe_id"), expr("_num div _den").as("_p"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_p")).as("score_scaled"))
      .select(col("probe_id"), col("n_bigrams"), col("score_scaled"),
        (col("score_scaled").cast("double") /
          (col("n_bigrams") * lit(scale)).cast("double")).as("avg_prob"))
  }

  /** Winsorize (quantile-clip) a numeric column per group: values below
    * the `lo` percentile or above the `hi` percentile are clamped to
    * it — the standard outlier guard before loss-weighting or reward
    * normalization.
    *
    * `exact = true` computes true percentiles (a sort-based aggregate —
    * fine up to millions of rows per group, and the cross-engine-
    * deterministic form the oracle checks); `exact = false` switches to
    * `percentile_approx`, the sketch any 100 TB run would use (bounded
    * memory, one pass, no sort). The clip itself is a broadcast join of
    * the tiny per-group bounds row back onto the stream — no second
    * shuffle of the data.
    */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      lo: Double = 0.05,
      hi: Double = 0.95,
      exact: Boolean = true): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    val (loB, hiB) =
      if (exact) (percentile(valueCol, lit(lo)), percentile(valueCol, lit(hi)))
      else (
        percentile_approx(valueCol, lit(lo), lit(10000)),
        percentile_approx(valueCol, lit(hi), lit(10000)))
    val bounds = broadcast(
      df.groupBy(groupCols.map(col): _*).agg(loB.as("_lo"), hiB.as("_hi")))
    // least/greatest SKIP nulls, so a bare least(greatest(v, lo), hi)
    // would rewrite a NULL value into the low bound — clipping must
    // never invent data, so nulls stay null.
    df.join(bounds, groupCols)
      .withColumn(
        "value_clipped",
        when(valueCol.isNull, lit(null))
          .otherwise(least(greatest(valueCol, col("_lo")), col("_hi"))))
      .drop("_lo", "_hi")
  }

  /** Leakage-safe train/val/test assignment: hash the NEAR-DUP CLUSTER
    * id, not the doc id — near-duplicates always land in the same
    * split, so a test document can never have a training-set twin (the
    * eval-contamination guard a doc-hash split silently lacks).
    * Composition: df-capped n-gram Jaccard pairs → connected
    * components → md5 split on the component id (same deterministic
    * [[keyHash]] as sampling). Fractions apply to clusters, so
    * doc-level proportions are approximate when cluster sizes vary —
    * exactly the trade a leakage-safe split must make.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      fractions: Seq[(String, Double)],
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 1000,
      seed: String = "graft"): DataFrame = {
    require(fractions.nonEmpty, "leakageSafeSplit needs at least one split")
    require(
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val pairs = Dedup.ngramJaccardPairs(df, idCol, textCol, shingleSize, threshold, maxDocFreq)
    // CC only over edge-incident nodes (Dedup.edgeIncidentLabels —
    // pair plan materialized once); singletons are recovered by the
    // left join + coalesce below without riding every propagation
    // round.
    val labels = Dedup.edgeIncidentLabels(pairs)
      .select(col("id").as(idCol), col("component").as("_cc"))
    val h = keyHash(col("component"), seed)
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val splitCol = fractions.zip(cum).tail
      .foldLeft(when(h < lit(hexThreshold(cum.head)), fractions.head._1)) {
        case (acc, ((name, _), cumF)) => acc.when(h < lit(hexThreshold(cumF)), name)
      }
      .otherwise(lit(fractions.last._1))
    df.join(labels, Seq(idCol), "left")
      .withColumn("component", coalesce(col("_cc"), col(idCol)))
      .drop("_cc")
      .withColumn("split", splitCol)
  }

  /** Deterministic global shuffle for training order: every row gets a
    * stable position from the md5 of (seed : key) — reproducible
    * across engines, retries, and partition layouts, unlike
    * `orderBy(rand())`. Implemented with [[Relational.globalIndex]]
    * (a running count over [[Relational.prefixSums]]), NOT a
    * single-partition window — above its size gate the sort
    * distributes and the index is offset per partition, so it scales
    * like any global sort. At 100 TB you would usually keep only the
    * sorted write and skip the explicit position column.
    *
    * `keyCol` must be a UNIQUE, non-null row key (a doc id): the
    * md5(seed:key) is the entire sort order, so duplicate or null keys
    * tie, and position assignment among tied rows follows shuffle-
    * fetch order — not reproducible. (Nulls all hash to the same NULL
    * sort key, the worst tie.)
    */
  def deterministicShuffle(
      df: DataFrame,
      keyCol: Column,
      seed: String = "graft",
      posCol: String = "pos"): DataFrame =
    Relational.globalIndex(
      df.withColumn("_shuffle_key", md5(saltedKey(keyCol, seed))),
      Seq(col("_shuffle_key"), keyCol),
      posCol)
      .drop("_shuffle_key")

  /** Token-budget corpus selection — the LAST step of a pretraining
    * data recipe: keep documents in `orderBy` order (quality-ranked;
    * or md5-ranked for a deterministic random subset) while the
    * running `tokensCol` total stays within `budget`. A kept row's
    * cumulative total rides along as `cumCol`.
    *
    * `orderBy` must be a TOTAL order (include a unique id tiebreak) or
    * the boundary document is arbitrary.
    *
    * Scale shape: the running total is one [[Relational.prefixSum]]
    * (a range-partitioned sort with |partitions| longs through the
    * driver, or one partition under its size gate) — NEVER a
    * single-partition running-sum window. The budget cut is then one
    * comparison per row.
    */
  def budgetSelect(
      df: DataFrame,
      orderBy: Seq[Column],
      tokensCol: Column,
      budget: Long,
      cumCol: String = "cum_tokens"): DataFrame = {
    require(orderBy.nonEmpty, "budgetSelect: orderBy must be non-empty")
    require(budget >= 0L, s"budgetSelect: budget must be >= 0, got $budget")
    Relational.prefixSum(df, orderBy, tokensCol, cumCol).where(col(cumCol) <= budget)
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document of the `raw` corpus by how
    * much its hashed n-gram features look like the `target`
    * distribution, so the raw corpus can be resampled toward the
    * target (e.g. resample Common Crawl toward Wikipedia).
    *
    * Features are word 1..n-grams hashed into `buckets` slots (the
    * hashing trick — the count tables are bounded by `buckets`
    * REGARDLESS of corpus size, which is the whole 100 TB story: both
    * count tables broadcast, so scoring is explode + two broadcast
    * joins + one hash-aggregate on the doc id; the only full shuffles
    * are the two bounded-output feature counts). The per-feature
    * likelihood ratio is add-one smoothed and computed in fixed point —
    * bigint multiply and truncating divide only, like [[lmScore]] — so
    * the result is bit-exact cross-engine:
    *
    * {{{ r(f) = ((ct(f)+1) * (TR+B) * scale) div ((cr(f)+1) * (TT+B)) }}}
    *
    * where ct/cr are target/raw bucket counts, TT/TR the token totals,
    * B = buckets. The per-doc weight is the MEAN ratio (linear space),
    * a deterministic integer-exact variant of DSIR's sum-of-log-ratios
    * (libm `ln` is not bit-identical across engines; monotone callers
    * who want the classic form can `log` the ratio column themselves).
    * Overflow bound: `(max ct+1) * (TR+B) * scale` must stay below
    * 2^63 — at the default scale=1000 that holds to ~10^8-token
    * corpora per bucket-count; shrink `scale` beyond that.
    *
    * Output: one row per raw doc — `idCol, n_feats, ratio_sum_scaled,
    * avg_ratio` (docs with zero features drop out, as in [[lmScore]]).
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 65536,
      scale: Long = 1000L,
      ngrams: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be > 0, got $buckets")
    require(scale > 0, s"dsirWeights: scale must be > 0, got $scale")
    require(ngrams.nonEmpty && ngrams.forall(_ >= 1),
      s"dsirWeights: ngrams must be non-empty positive, got $ngrams")
    require(ngrams.distinct.size == ngrams.size,
      s"dsirWeights: duplicate n in $ngrams would double-count its features")
    // first 8 md5 hex chars as a number mod buckets — the same
    // cross-engine hash family as hashSample / the CMS kernels
    def bucket(c: Column): Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % buckets
    def feats(df: DataFrame, id: Column, as: String) = {
      val ws = df.select(id.as(as), words(col(textCol)).as("_ws"))
      ngrams.map { n =>
        val grams = if (n == 1) col("_ws") else wordShinglesFromWords(col("_ws"), n)
        ws.where(size(col("_ws")) >= n).select(col(as), explode(grams).as("_g"))
      }.reduce(_ unionAll _)
        .select(col(as), bucket(col("_g")).as("_f"))
    }
    val rawF = feats(raw, col(idCol), "_id")
    val tgtF = feats(target, lit(0L), "_tid").drop("_tid")
    val cr = rawF.groupBy(col("_f")).agg(count(lit(1)).as("_cr"))
    val ct = tgtF.groupBy(col("_f")).agg(count(lit(1)).as("_ct"))
    // totals = one row each; sums over <= buckets count rows
    val totals = cr.agg(sum(col("_cr")).as("_tr"))
      .crossJoin(ct.agg(coalesce(sum(col("_ct")), lit(0L)).as("_tt")))
    val b = lit(buckets.toLong)
    rawF
      .join(broadcast(ct), Seq("_f"), "left")
      // inner: every raw feature has cr >= 1 by construction
      .join(broadcast(cr), Seq("_f"))
      .crossJoin(broadcast(totals))
      .select(col("_id"),
        ((coalesce(col("_ct"), lit(0L)) + 1) * (col("_tr") + b) * lit(scale)).as("_num"),
        ((col("_cr") + 1) * (col("_tt") + b)).as("_den"))
      .select(col("_id"), expr("_num div _den").as("_r"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("_r")).as("ratio_sum_scaled"))
      .select(col("_id").as(idCol), col("n_feats"), col("ratio_sum_scaled"),
        (col("ratio_sum_scaled").cast("double") /
          (col("n_feats") * lit(scale)).cast("double")).as("avg_ratio"))
  }

  /** Deterministic k-fold assignment — the cross-validation split as a
    * pure function of the row id (no RNG, no global shuffle, stable
    * across reruns and engines): fold = ((id mod 1000003)·2654435761
    * mod 2³¹) mod k — the Knuth multiplicative scramble breaks any
    * id-ordering correlation (plain `id mod k` puts every k-th row in
    * the same fold, which for clustered ids IS a leak). Adds `foldCol`
    * (long in [0, k)); all intermediates ≤ ~2.6·10¹⁵, exact in any
    * 64-bit engine. Narrow projection — zero shuffles.
    */
  def kfoldAssign(df: DataFrame, idCol: Column, k: Int,
      foldCol: String = "fold"): DataFrame = {
    require(k >= 2 && k <= 1000, s"kfoldAssign: k must be in [2,1000], got $k")
    df.withColumn(foldCol,
      ((idCol.cast("long") % 1000003L) * 2654435761L % 2147483648L) % k)
  }

  /** Per-group feature scaling — the two standard normalizations in
    * one pass: min-max to ppm (exact integers, floor-div) and the
    * z-score against the group's SAMPLE std (the only doubles, from
    * exact decimal moments). Groups are typical feature-prep strata
    * (domain, language, shard); constant groups yield null for both
    * (no spread to scale against), singletons likewise (n−1 = 0).
    *
    * Shape: one hash-agg to |groups| stat rows, broadcast-joined back
    * onto the stream — deliberately NOT a window (a window would
    * re-sort each group; the stats join keeps the big side's
    * partitioning untouched and the scaling itself is codegen'd
    * projection). Output: input keys + (group, minmax_ppm, z).
    */
  def featureScale(df: DataFrame, keyCols: Seq[Column], groupCol: Column,
      valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select((keyCols :+ groupCol.as("_g") :+
        valueCol.cast("long").as("_v")): _*)
    val stats = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), min(col("_v")).as("_min"),
        max(col("_v")).as("_max"),
        sum(col("_v")).as("_s"),
        sum(col("_v").cast("decimal(38,0)") * col("_v")).as("_s2"))
    val nD = col("_n").cast("double")
    val varNum = nD * col("_s2").cast("double") -
      col("_s").cast("double") * col("_s").cast("double")
    val keyNames = base.columns.dropRight(2)
    base.join(broadcast(stats), Seq("_g"))
      .select((keyNames.map(col) :+ col("_g").as("grp") :+
        when(col("_max") === col("_min"), lit(null).cast("long"))
          .otherwise(expr("(_v - _min) * 1000000L div (_max - _min)"))
          .as("minmax_ppm") :+
        when(col("_n") < 2L || varNum <= 0.0d, lit(null).cast("double"))
          .otherwise(round(
            (col("_v").cast("double") - col("_s").cast("double") / nD) /
              sqrt(varNum / (nD * (nD - 1.0d))), 6)).as("z")): _*)
  }

  /** Fold-balance audit for [[kfoldAssign]]: per-(fold, stratum) row
    * counts plus each cell's share of its stratum (ppm) — the check
    * that every fold sees every stratum at ~1/k before anyone trains
    * on the split. One hash-agg to k·|strata| rows; the per-stratum
    * total joins back broadcast. Output: (fold, stratum, n,
    * stratum_share_ppm).
    */
  def kfoldAudit(df: DataFrame, idCol: Column, stratumCol: Column,
      k: Int): DataFrame = {
    val cells = kfoldAssign(df.select(idCol.as("_id"), stratumCol.as("stratum")),
      col("_id"), k)
      .groupBy(col("fold"), col("stratum")).agg(count(lit(1)).as("n"))
    val per = cells.groupBy(col("stratum")).agg(sum(col("n")).as("_ns"))
    cells.join(broadcast(per), Seq("stratum"))
      .select(col("fold"), col("stratum"), col("n"),
        expr("n * 1000000L div _ns").as("stratum_share_ppm"))
  }

  /** OOV-rate audit after min-count vocabulary pruning — the
    * tokenizer-training feedback loop: prune words below `minCount`
    * corpus occurrences (the standard vocab cut), then measure what
    * fraction of each document's tokens fell out. A doc with high
    * oov_ppm is the one a trained tokenizer will shred into bytes —
    * surfacing them BEFORE training is the point.
    *
    * Two passes over the exploded token frame (one corpus count, one
    * membership join — the kept-vocab side broadcasts under AQE when
    * it fits, and is a short-key semi-join shape regardless); exact
    * integer ppm. Output: (id, n_tokens, n_oov, oov_ppm).
    */
  def oovRate(df: DataFrame, idCol: Column, textCol: Column,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"oovRate: minCount must be >= 1, got $minCount")
    val toks = df.select(idCol.as("_id"),
        explode(graft.functions.TextFunctions.words(textCol)).as("_w"))
      .transform(CacheRegistry.checkpoint(_))
    val vocab = toks.groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minCount).select(col("_w"), lit(1).as("_in"))
    toks.join(vocab, Seq("_w"), "left")
      .groupBy(col("_id").as("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
  }

  /** Content-defined chunking stats (Rabin-style): a chunk boundary
    * falls wherever the hash of the trailing `w`-char window is ≡ 0
    * mod `divisor` — boundaries move WITH the content, so an edit
    * shifts only its own chunk instead of re-chunking the whole
    * document (why storage dedup and incremental corpus dedup use CDC
    * instead of fixed windows — compare [[chunkWords]]). Expected
    * chunk length ≈ `divisor` chars.
    *
    * Pure codegen per row: one `transform` over positions hashing the
    * 8-char window with the house md5-prefix recipe (engine-exact),
    * one filter/size — O(len) per document, zero shuffles beyond the
    * scan. Output: (id, n_chars, n_boundaries, n_chunks,
    * avg_chunk_len).
    */
  def cdcChunkStats(df: DataFrame, idCol: Column, textCol: Column,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2, s"cdcChunkStats: window must be >= 2, got $window")
    require(divisor >= 2, s"cdcChunkStats: divisor must be >= 2, got $divisor")
    // guard BEFORE sequence(): start > stop would generate a
    // descending range and hash nonsense windows on short docs
    val nb = when(length(textCol) >= window, size(filter(
      transform(
        sequence(lit(window), length(textCol)),
        p => conv(substring(md5(substring(textCol, p - (window - 1), lit(window))), 1, 8),
          16, 10).cast("long") % divisor),
      v => v === 0))).otherwise(0)
    df.select(idCol.as("id"), length(textCol).cast("long").as("n_chars"),
        nb.cast("long").as("n_boundaries"))
      .where(col("n_chars") >= window)
      .select(col("id"), col("n_chars"), col("n_boundaries"),
        (col("n_boundaries") + 1L).as("n_chunks"),
        expr("n_chars div (n_boundaries + 1)").as("avg_chunk_len"))
  }

  /** Content-defined chunk EXTRACTION + cross-document duplicate-chunk
    * summary — the payoff of [[cdcChunkStats]]'s boundary rule: texts
    * are cut at their content-defined boundaries, each chunk is
    * fingerprinted, and chunks appearing in more than one document are
    * counted. Because boundaries move with content, a paragraph pasted
    * into ten documents lands on the SAME chunk hashes in all ten —
    * fixed windows would only catch it at aligned offsets.
    *
    * Per row: one codegen HOF pass builds the boundary list and
    * slices chunks (O(len)); the shuffle then carries (chunk-md5,
    * doc) pairs — hashes, never chunk text. Output is one summary
    * row: (n_chunks, n_distinct, n_shared_chunks, docs_with_shared),
    * where shared = fingerprint seen in ≥ 2 distinct documents.
    */
  def chunkDedupSummary(df: DataFrame, idCol: Column, textCol: Column,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2, s"chunkDedupSummary: window must be >= 2, got $window")
    require(divisor >= 2, s"chunkDedupSummary: divisor must be >= 2, got $divisor")
    val bpos = filter(
      sequence(lit(window), length(col("_t"))),
      p => conv(substring(md5(substring(col("_t"), p - (window - 1), lit(window))), 1, 8),
        16, 10).cast("long") % divisor === 0)
    // STAGE the boundary array as its own projection: higher-order
    // functions are interpreted (CodegenFallback), so an expression
    // tree referenced INSIDE a lambda is re-evaluated per element —
    // inlining `bounds` under `transform` re-ran the O(len) md5
    // boundary scan for every element_at() of every chunk
    // (O(len·chunks) md5 calls per row, measured 4.0 s → the staged
    // form's sub-second). Multiply-referenced + non-cheap keeps
    // CollapseProject from re-inlining it (the routeRecords rule).
    val chunks = transform(
      sequence(lit(0), size(col("_bounds")) - 2),
      i => md5(substring(col("_t"),
        element_at(col("_bounds"), i + 1) + 1,
        element_at(col("_bounds"), i + 2) - element_at(col("_bounds"), i + 1))))
    val pairs = df.where(length(textCol) >= window)
      .select(idCol.as("_id"), textCol.as("_t"))
      .withColumn("_bounds",
        concat(array(lit(0)), bpos, array(length(col("_t")))))
      .select(col("_id"), explode(chunks).as("_h"))
      .transform(CacheRegistry.checkpoint(_))
    val perHash = pairs.groupBy(col("_h"))
      .agg(count(lit(1)).as("_n"), count_distinct(col("_id")).as("_nd"))
    val shared = perHash.where(col("_nd") >= 2)
    perHash.agg(sum(col("_n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"))
      .crossJoin(broadcast(
        shared.agg(coalesce(count(lit(1)), lit(0L)).as("n_shared_chunks"))))
      .crossJoin(broadcast(
        pairs.join(shared.select(col("_h")), Seq("_h"), "left_semi")
          .agg(count_distinct(col("_id")).as("docs_with_shared"))))
  }

  /** Rolling-origin backtest splits — time-series cross-validation
    * that never leaks the future: fold i trains on ticks
    * [minTick, trainWindow + i·horizon) and tests on the next
    * `horizon` ticks. The leakage-safe sibling of [[kfoldAudit]] for
    * anything ordered (demand series, user histories, market data) —
    * a random k-fold over time data silently trains on tomorrow.
    *
    * Ticks are relative to the GLOBAL min tick (one 1-row broadcast);
    * assignment is pure integer arithmetic exploded over the `folds`
    * constant — |rows|·folds narrow rows, no shuffle beyond the
    * output's own. Rows after fold i's test window carry no role and
    * are dropped for that fold. Output: (fold, original columns...,
    * role ∈ {train, test}).
    */
  def rollingOrigin(df: DataFrame, tickCol: Column, trainWindow: Long,
      horizon: Long, folds: Int): DataFrame = {
    require(trainWindow >= 1, s"rollingOrigin: trainWindow must be >= 1, got $trainWindow")
    require(horizon >= 1, s"rollingOrigin: horizon must be >= 1, got $horizon")
    require(folds >= 1 && folds <= 64, s"rollingOrigin: need 1 <= folds <= 64, got $folds")
    val m = df.agg(min(tickCol.cast("long")).as("_t0"))
    df.withColumn("_tick", tickCol.cast("long"))
      .where(col("_tick").isNotNull)
      .crossJoin(broadcast(m))
      .withColumn("_rel", col("_tick") - col("_t0"))
      .withColumn("fold", explode(sequence(lit(0), lit(folds - 1))))
      .withColumn("role",
        when(col("_rel") < lit(trainWindow) + col("fold") * horizon, "train")
          .when(col("_rel") < lit(trainWindow) + (col("fold") + 1) * horizon, "test"))
      .where(col("role").isNotNull)
      .drop("_tick", "_t0", "_rel")
  }

  /** Kish effective sample size — what a set of importance weights
    * actually buys: n_eff = (Σw)²/Σw². DSIR-style reweighting that
    * concentrates on a few documents quietly shrinks the corpus —
    * 10M docs at n_eff = 80k behave like an 80k corpus for variance
    * purposes, and this is the number that says so BEFORE training.
    * deff = n/n_eff is the classic design effect (1 = uniform,
    * larger = weight collapse).
    *
    * Exact integers at any scale: n_eff_milli = (Σw)²·10³ div Σw²
    * and deff_ppm = n·Σw²·10⁶ div (Σw)², both decimal(38,0) floors —
    * no rounded double anywhere (the q_allan rule: n_eff can reach
    * corpus cardinality, past round(·,6)'s portable range). One
    * map-combinable aggregate per group. Output:
    * (group, n, n_eff_milli, deff_ppm); null weights ≤ 0 drop.
    */
  def kishEffectiveSize(df: DataFrame, groupCol: Column,
      weightCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val w = weightCol.cast("long")
    df.where(groupCol.isNotNull && weightCol.isNotNull && w > 0)
      .groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n"), sum(dec(w)).as("_sw"),
        sum(dec(w) * w).as("_sw2"))
      .select(col("group"), col("n"),
        expr("CAST((_sw * _sw * 1000) div _sw2 AS BIGINT)")
          .as("n_eff_milli"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * _sw2 * 1000000)
          div (_sw * _sw) AS BIGINT)""").as("deff_ppm"))
      .orderBy(col("group"))
  }

  /** ABC (Pareto-class) analysis — split keys into the classic
    * A/B/C tiers by cumulative weight share: A carries the head of
    * the distribution (default to 70%), B the middle (to 90%), C the
    * tail. The inventory/corpus triage readout: "2% of sources are
    * class A — audit them by hand; the C tail is 80% of keys and 10%
    * of tokens — sample it". Classes are assigned by where each
    * key's interval STARTS on the cumulative axis (start < boundary),
    * so the single-dominant-key corpus still has a class A.
    *
    * Exact integers: weights ranked by (weight desc, key) through
    * [[Relational.prefixSum]] (no global window), boundaries compared
    * as decimal cross-products (start·10⁶ < ppm·W — no division),
    * one bounded closing aggregate. Output ≤ 3 rows:
    * (abc_class, n_keys, weight, weight_share_ppm).
    */
  def abcClasses(df: DataFrame, keyCol: Column, weightCol: Column,
      aPpm: Long = 700000L, bPpm: Long = 900000L): DataFrame = {
    require(0 < aPpm && aPpm < bPpm && bPpm <= 1000000L,
      s"abcClasses: need 0 < aPpm < bPpm <= 1e6, got $aPpm, $bPpm")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = CacheRegistry.persist(
      df.where(keyCol.isNotNull && weightCol.isNotNull)
        .groupBy(keyCol.cast("string").as("_k"))
        .agg(sum(weightCol.cast("long")).as("_w"))
        .where(col("_w") > 0))
    val tot = per.agg(sum(dec(col("_w"))).as("_tw"))
    val ranked = Relational.prefixSum(
      per.select(col("_k"), col("_w"), (-col("_w")).as("_nw")),
      Seq(col("_nw"), col("_k")), col("_w"), "_cum")
      .select(col("_k"), col("_w"),
        (dec(col("_cum") - col("_w")) * 1000000L).as("_start"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("_start") < dec(lit(aPpm)) * col("_tw"), "A")
          .when(col("_start") < dec(lit(bPpm)) * col("_tw"), "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_keys"), sum(col("_w")).as("weight"),
        first(col("_tw")).as("_tw"))
      .select(col("abc_class"), col("n_keys"), col("weight"),
        expr("CAST(CAST(weight AS DECIMAL(38,0)) * 1000000 div _tw AS BIGINT)")
          .as("weight_share_ppm"))
      .orderBy(col("abc_class"))
  }

  /** Largest-remainder (Hamilton) apportionment — split an integer
    * budget across strata EXACTLY proportionally to their weights:
    * token quotas per source in a training-data recipe, sample
    * allocations per stratum, shard counts per tenant. Rounding each
    * share independently drifts from the total; Hamilton gives every
    * stratum its floor ⌊total·w/W⌋ and hands the leftover seats to
    * the largest fractional remainders, so Σalloc == total by
    * construction — the property a budgeted pipeline actually needs.
    *
    * Exact integers throughout: base = total·w div W, remainder =
    * total·w − base·W (both decimal(38,0)); the leftover seat count
    * R = total − Σbase lands on the R largest remainders, ties to the
    * smaller key (fully deterministic). The remainder ranking rides
    * [[Relational.prefixSum]] over (remainder desc, key) — no global
    * window at any stratum cardinality. Output one row per stratum:
    * (key, weight, base, extra, alloc).
    */
  def apportion(df: DataFrame, keyCol: Column, weightCol: Column,
      total: Long): DataFrame = {
    require(total >= 0, s"apportion: total must be >= 0, got $total")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = CacheRegistry.persist(
      df.where(keyCol.isNotNull && weightCol.isNotNull)
        .groupBy(keyCol.cast("string").as("key"))
        .agg(sum(weightCol.cast("long")).as("weight"))
        .where(col("weight") > 0))
    val w = per.agg(sum(dec(col("weight"))).as("_W"))
    val based = CacheRegistry.persist(
      per.crossJoin(broadcast(w))
        .withColumn("_tw", (dec(col("weight")) * total).cast("decimal(38,0)"))
        .withColumn("base", expr("CAST(_tw div _W AS BIGINT)"))
        .withColumn("_rem", (col("_tw") - dec(col("base")) * col("_W"))
          .cast("decimal(38,0)")))
    val leftover = based.agg((lit(total) - sum(col("base"))).as("_R"))
    val ranked = Relational.prefixSum(
      based.select(col("key"), col("weight"), col("base"),
        (-col("_rem")).as("_negrem")),
      Seq(col("_negrem"), col("key")), lit(1L), "_rank")
    ranked.crossJoin(broadcast(leftover))
      .select(col("key"), col("weight"), col("base"),
        when(col("_rank") <= col("_R"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("base") + col("extra"))
      .orderBy(col("key"))
  }

  /** Length-bucket padding audit — the batch-efficiency readout of
    * LLM batching: documents are bucketed by `width`-wide length
    * ranges (bucket = len div width; same-bucket sequences batch
    * together and pad to the bucket's max), and each bucket reports
    * how many tokens that padding wastes. `waste_ppm` ≫ 0 in a hot
    * bucket says "split this bucket" — the knob that decides real
    * training-throughput dollars.
    *
    * One map-side-combinable aggregate over the corpus (count / sum /
    * max per bucket), exact integers end-to-end, output bounded by
    * max-length/width. Output: (bucket, n_docs, total_len, pad_target,
    * waste, waste_ppm).
    */
  def lengthBuckets(df: DataFrame, lenCol: Column, width: Long): DataFrame = {
    require(width >= 1, s"lengthBuckets: width must be >= 1, got $width")
    df.select(lenCol.cast("long").as("_len"))
      .where(col("_len").isNotNull && col("_len") >= 0)
      .groupBy(expr(s"_len div ${width}L").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_len")).as("total_len"),
        max(col("_len")).as("pad_target"))
      .select(col("bucket"), col("n_docs"), col("total_len"), col("pad_target"),
        (col("pad_target") * col("n_docs") - col("total_len")).as("waste"),
        when(col("pad_target") > 0,
          expr("(pad_target * n_docs - total_len) * 1000000 div (pad_target * n_docs)"))
          .as("waste_ppm"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the retrieval-diversity classic: greedily pick the
    * item maximizing λ·relevance − (1−λ)·similarity-to-already-picked,
    * the standard answer to near-duplicate contexts crowding a RAG
    * window or a few clusters dominating a curated sample. Where
    * [[kcenterSelect]] is pure spread, MMR trades spread against a
    * caller-supplied relevance.
    *
    * Integer-exact formulation: `relCol` is a caller-computed integer
    * relevance (negative squared distance to a query, a ppm-scaled
    * BM25 — any total order on the SAME magnitude scale as the
    * milli-unit squared distances used for similarity), λ is given in
    * ppm, and similarity-to-picked is the (negated) running min
    * squared distance, so each round's argmax is
    *
    * {{{ score_i = lamPpm·rel_i + (10⁶ − lamPpm)·minD2_i }}}
    *
    * — exact longs, ties to the smaller id, no float anywhere. Round
    * 1 is pure relevance (MMR's S = ∅ convention). A NULL min_d2 (see
    * the null-element rule on [[kcenterSelect]]) makes the score NULL,
    * and NULL scores rank last.
    *
    * Scale shape: identical to [[kcenterSelect]], behind the same
    * 10 MB gate — at or under it one collect and every round on the
    * driver, above it m map-only
    * zip_with passes with one checkpoint + one TakeOrdered(1) per
    * round; vectors never ride a shuffle. Output: (step ∈ 1..m, picked
    * id, rel, min_d2 at pick; 0 for step 1).
    */
  def mmrRerank(df: DataFrame, idCol: String, vecCol: String,
      relCol: String, m: Int, lamPpm: Long = 500000L): DataFrame = {
    require(m >= 1 && m <= 64, s"mmrRerank: m must be in [1,64], got $m")
    require(lamPpm >= 0L && lamPpm <= 1000000L,
      s"mmrRerank: lamPpm must be in [0, 1000000], got $lamPpm")
    import org.apache.spark.sql.types._
    val picks = greedyPicks("mmrRerank", df, idCol, vecCol, m,
      Some(Mmr(relCol, lamPpm)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(picks.map(p =>
        org.apache.spark.sql.Row(p.step, p.id, p.rel, p.d2)): _*),
      StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("rel", LongType, nullable = false),
        StructField("min_d2", LongType))))
  }

  /** Greedy k-center (Gonzalez farthest-point) selection over an
    * embedding column — the diversity-first coreset draw: each round
    * picks the point FARTHEST from everything already chosen, so k
    * picks cover the corpus within twice the optimal k-center radius
    * (the classic 2-approximation). The complement of quality-ranked
    * selection ([[budgetSelect]] keeps the best-scoring mass;
    * k-center keeps the SPREAD — the standard seed set for
    * diversity-aware curation and embedding-space audits).
    *
    * Determinism discipline: components are fixed-pointed to integer
    * milli-units and distances are EXACT integer squared-euclidean
    * sums (long — 64 dims of milli-unit gaps peak ~2.6·10⁸ per pair;
    * an overflow raises under ANSI arithmetic), so the per-round
    * argmax is a total order on (dist DESC, id ASC) with no float
    * anywhere; the first center is the md5-smallest id (the
    * [[hashSample]] no-RNG draw). Identical picks on any engine, any
    * partitioning.
    *
    * Null-element rule (the oracle SQL's): a distance that touches a
    * NULL vector element is NULL; the running min-distance skips NULLs
    * (`least`), so it stays NULL only while every distance so far was
    * NULL; the argmax ranks a NULL distance last. A pick whose
    * distance is still NULL reports a NULL d2_pick.
    *
    * Scale shape, two routes behind `Relational.routesLocal` at a
    * private 10 MB bound on the candidate frame's plan-stats bytes (the
    * default of Spark's own broadcast bound), read at no job cost; a
    * plan sized from a row count, which counts each vector at one
    * element, has the bound divided by the vector width (one dim probe):
    *  - at or under it, ONE job collects the candidates (id, fixed-point
    *    vector and md5 key computed by Spark) into primitive arrays, the
    *    dim is read from the first one, and all k rounds run on the
    *    driver with the same exact long arithmetic (`Math.*Exact` under
    *    ANSI), raising where Spark's would;
    *  - above it, the fixed-point frame is persisted once; each of the
    *    k rounds is (a) one map-only zip_with distance projection folded
    *    with `least` into the running min-distance column, (b) one eager
    *    localCheckpoint (the superstep discipline — O(1) expression
    *    depth per round instead of an O(k)-deep recompute chain), and
    *    (c) one TakeOrdered(1) argmax reduce (the round's bounded driver
    *    readout: a single row, whose vector becomes the next round's
    *    literal, exactly [[Linalg.topComponents]]' deflation pattern).
    *    Total: k map-passes over n rows — the algorithm's inherent
    *    cost; no shuffle of vectors ever.
    * Output: (step ∈ 1..k, picked id, d2_pick = the pick's exact
    * squared distance to the prior centers; 0 for step 1) — the
    * non-increasing d2_pick sequence IS the coverage-radius curve.
    */
  def kcenterSelect(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"kcenterSelect: k must be in [1,64], got $k")
    import org.apache.spark.sql.types._
    val picks = greedyPicks("kcenterSelect", df, idCol, vecCol, k, None)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(picks.map(p =>
        org.apache.spark.sql.Row(p.step, p.id, p.d2)): _*),
      StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("d2_pick", LongType))))
  }

  /** What MMR adds to k-center: a relevance column (the first pick's
    * order and a score term) and λ in ppm.
    */
  private final case class Mmr(relCol: String, lamPpm: Long)

  /** One greedy pick: `rel` is 0 for k-center; `d2` is the pick's
    * running min squared distance (0 at step 1, null when unknown).
    */
  private final case class Pick(step: Int, id: Long, rel: Long, d2: java.lang.Long)

  /** The greedy pickers' local-route bound on the candidate frame's
    * plan-stats bytes: 10 MB, the default of Spark's own "small enough
    * to hold whole" bound, kept as a constant so a join setting does
    * not move the pickers' route.
    */
  private val PickerLocalBytes: Long = 10L * 1024 * 1024

  /** The candidate frame both routes pick from: `_id`, the fixed-point
    * vector `_v = floor(v·1000)` and `_key`, the first pick's order
    * (the md5 of the id for k-center, the relevance for MMR), over the
    * rows with a non-empty vector.
    */
  private[graft] def pickerCandidates(df: DataFrame, idCol: String,
      vecCol: String, relCol: Option[String]): DataFrame = {
    val id = col(idCol).cast("long")
    val key = relCol.fold(md5(id.cast("string")))(r => col(r).cast("long"))
    df.where(size(col(vecCol)) > 0).select(id.as("_id"),
      transform(col(vecCol).cast("array<double>"),
        v => floor(v * lit(1000.0))).as("_v"),
      key.as("_key"))
  }

  /** The greedy pickers' gate: [[Relational.routesLocal]] at
    * [[PickerLocalBytes]]. A leaf sized from a row count (a local
    * relation, a range, a CBO-analyzed table) counts each array at ONE
    * element, so under such a leaf the bound shrinks by the vector
    * width, read with one dim probe; a file-sized plan counts the
    * stored bytes, vectors included, and probes nothing.
    */
  private[graft] def pickersRouteLocal(df: DataFrame, cands: DataFrame,
      vecCol: String, op: String): Boolean =
    Relational.routesLocal(cands,
      if (cands.queryExecution.optimizedPlan.collectLeaves()
          .exists(_.stats.rowCount.isDefined))
        PickerLocalBytes / graft.core.VecDim.probe(df, vecCol, op)
      else PickerLocalBytes)

  /** The greedy loop behind [[kcenterSelect]] (`mmr` = None) and
    * [[mmrRerank]]: the first pick is the md5-smallest id or the most
    * relevant candidate, every later pick the argmax of the running
    * min-distance or the MMR score, ties to the smaller id, picked ids
    * leaving the candidates. Routed by size; see [[kcenterSelect]].
    */
  private def greedyPicks(op: String, df: DataFrame, idCol: String,
      vecCol: String, n: Int, mmr: Option[Mmr]): Seq[Pick] = {
    val cands = pickerCandidates(df, idCol, vecCol, mmr.map(_.relCol))
    val none = s"$op: no candidates after the " +
      mmr.fold("id null filter")(_ => "id/rel null filters")
    if (pickersRouteLocal(df, cands, vecCol, op))
      driverPicks(op, cands, vecCol, n, mmr, none,
        df.sparkSession.sessionState.conf.ansiEnabled)
    else clusterPicks(op, df, cands, vecCol, n, mmr, none)
  }

  /** The collected candidates as primitives: candidate i's element j
    * sits at `vecs(i * dim + j)`, with bit `i * dim + j` of `nulls` set
    * when it is NULL; `first` is the first pick's index.
    */
  private final class Collected(val dim: Int, val ids: Array[Long],
      val rel: Array[Long], val vecs: Array[Long],
      val nulls: java.util.BitSet, val first: Int)

  /** One collect of the candidates, unpacked into primitives; the
    * collected rows are garbage once this returns. The dim is
    * `VecDim.probe`'s (the first non-empty vector's width, in partition
    * order), and the same null and width filters as the distributed
    * route keep the candidates. The first pick is the smallest md5 key
    * (k-center) or the largest relevance (MMR), ties to the smaller id.
    */
  private def collectCandidates(op: String, cands: DataFrame,
      vecCol: String, mmr: Boolean): Collected = {
    // bounded: pickersRouteLocal held the candidates' plan-stats size,
    // vectors at their real width, at or under PickerLocalBytes
    val all = cands.collect()
    val dim = graft.core.VecDim.checked(
      all.headOption.map(_.getSeq[AnyRef](1).size), vecCol, op)
    val rows = all.filter(r => !r.isNullAt(0) && !r.isNullAt(2) &&
      r.getSeq[AnyRef](1).size == dim)
    val ids = new Array[Long](rows.length)
    val rel = new Array[Long](rows.length)
    val vecs = new Array[Long](rows.length * dim)
    val nulls = new java.util.BitSet
    var first = -1
    for (i <- rows.indices) {
      val r = rows(i)
      ids(i) = r.getLong(0)
      if (mmr) rel(i) = r.getLong(2)
      val v = r.getSeq[java.lang.Long](1)
      for (j <- 0 until dim) {
        val x = v(j)
        if (x == null) nulls.set(i * dim + j) else vecs(i * dim + j) = x
      }
      // (rel DESC | md5 key ASC, id ASC)
      val c = if (first < 0) -1
        else if (mmr) java.lang.Long.compare(rel(first), rel(i))
        else r.getString(2).compareTo(rows(first).getString(2))
      if (c < 0 || (c == 0 && ids(i) < ids(first))) first = i
    }
    new Collected(dim, ids, rel, vecs, nulls, first)
  }

  /** Gate-scale route of [[greedyPicks]]: one collect, every round on
    * the driver. Each expression the distributed route evaluates per
    * row is evaluated here too, in the same null and overflow
    * semantics: a squared term per non-null element pair, the sum NULL
    * from its first NULL term on, the score's λ·rel term even when
    * min_d2 is NULL.
    */
  private def driverPicks(op: String, cands: DataFrame, vecCol: String,
      n: Int, mmr: Option[Mmr], none: String, ansi: Boolean): Seq[Pick] = {
    def add(a: Long, b: Long) = if (ansi) Math.addExact(a, b) else a + b
    def sub(a: Long, b: Long) = if (ansi) Math.subtractExact(a, b) else a - b
    def mul(a: Long, b: Long) = if (ansi) Math.multiplyExact(a, b) else a * b
    val c = collectCandidates(op, cands, vecCol, mmr.isDefined)
    if (c.ids.isEmpty) throw new IllegalArgumentException(none)
    val (dim, ids, vecs, nulls) = (c.dim, c.ids, c.vecs, c.nulls)
    val alive = Array.fill(ids.length)(true)
    // the running min-distance; md(i) is NULL (no known distance yet)
    // until mdKnown(i)
    val md = new Array[Long](ids.length)
    val mdKnown = new Array[Boolean](ids.length)
    val picks = Vector.newBuilder[Pick]
    picks += Pick(1, ids(c.first), c.rel(c.first), 0L)
    var center = c.first
    var step = 2
    while (step <= n && center >= 0) {
      val cid = ids(center)
      for (i <- ids.indices if ids(i) == cid) alive(i) = false
      var best = -1
      var bestKnown = false
      var bestScore = 0L
      for (i <- ids.indices if alive(i)) {
        // d² to the center as Spark evaluates
        // aggregate(zip_with(v, center, (x, y) -> (x - y) * (x - y)), 0L, +)
        var sum = 0L
        var known = true
        for (j <- 0 until dim) {
          val a = i * dim + j
          val b = center * dim + j
          if (nulls.get(a) || nulls.get(b)) known = false
          else {
            val d = sub(vecs(a), vecs(b))
            val sq = mul(d, d)
            if (known) sum = add(sum, sq)
          }
        }
        if (known && (!mdKnown(i) || sum < md(i))) { md(i) = sum; mdKnown(i) = true }
        // the argmax score, NULL while min_d2 is
        val score = mmr match {
          case Some(m) =>
            val r = mul(m.lamPpm, c.rel(i))
            if (mdKnown(i)) add(r, mul(1000000L - m.lamPpm, md(i))) else 0L
          case None => md(i)
        }
        // (score DESC NULLS LAST, id ASC)
        val better = best < 0 || (
          if (mdKnown(i) != bestKnown) mdKnown(i)
          else if (!mdKnown(i)) ids(i) < ids(best)
          else score > bestScore || (score == bestScore && ids(i) < ids(best)))
        if (better) { best = i; bestKnown = mdKnown(i); bestScore = score }
      }
      // n beyond the candidate count stops with the realized prefix
      if (best >= 0) picks += Pick(step, ids(best), c.rel(best),
        if (mdKnown(best)) java.lang.Long.valueOf(md(best)) else null)
      center = best
      step += 1
    }
    picks.result()
  }

  /** Above-gate route of [[greedyPicks]]: the persisted fixed-point
    * frame, one checkpointed distance pass and one TakeOrdered(1)
    * argmax per round.
    */
  private def clusterPicks(op: String, df: DataFrame, cands: DataFrame,
      vecCol: String, n: Int, mmr: Option[Mmr], none: String): Seq[Pick] = {
    val dim = graft.core.VecDim.probe(df, vecCol, op)
    val fx = CacheRegistry.persist(cands.where(size(col("_v")) === dim &&
      col("_id").isNotNull && col("_key").isNotNull))
    val firstOrder = if (mmr.isDefined) col("_key").desc else col("_key").asc
    // headOption: the dim probe guarantees a non-empty vector EXISTS,
    // but the null filters can still empty the candidate frame — fail
    // with the operator's name, not a bare NoSuchElementException
    val first = fx.orderBy(firstOrder, col("_id").asc)
      .limit(1).collect().headOption.getOrElse(
        throw new IllegalArgumentException(none))
    def rel(r: org.apache.spark.sql.Row) = if (mmr.isDefined) r.getLong(2) else 0L
    val score = mmr.fold(col("_md"))(m =>
      lit(m.lamPpm) * col("_key") + lit(1000000L - m.lamPpm) * col("_md"))
    val picks = Vector.newBuilder[Pick]
    picks += Pick(1, first.getLong(0), rel(first), 0L)
    var center = first.getSeq[java.lang.Long](1)
    // picked ids leave the candidate frame: on a corpus with exact
    // duplicate vectors every min-distance can reach 0, and the argmax
    // could otherwise re-pick a chosen id. The NULL seed is `least`'s
    // identity (it skips NULLs).
    var cur = fx.where(col("_id") =!= first.getLong(0))
      .withColumn("_md", lit(null).cast("long"))
    // the latest round checkpoint, released once the next one is
    // materialized (the seed frame above is not registered: a no-op)
    var lastCp = cur
    var step = 2
    var exhausted = false
    while (step <= n && !exhausted) {
      val cLit = array(center.map(x => lit(x).cast("long")): _*)
      cur = cur.withColumn("_md", least(col("_md"),
          aggregate(zip_with(col("_v"), cLit, (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, y) => acc + y)))
        .transform(CacheRegistry.checkpoint(_)) // the round's one materializing action
      CacheRegistry.release(lastCp)
      lastCp = cur
      // n beyond the candidate count stops cleanly with the realized
      // prefix instead of a head() crash
      cur.orderBy(score.desc, col("_id").asc).limit(1).collect().headOption match {
        case Some(pick) =>
          picks += Pick(step, pick.getLong(0), rel(pick),
            if (pick.isNullAt(3)) null else pick.getLong(3))
          center = pick.getSeq[java.lang.Long](1)
          cur = cur.where(col("_id") =!= pick.getLong(0))
          step += 1
        case None => exhausted = true
      }
    }
    picks.result()
  }
}
