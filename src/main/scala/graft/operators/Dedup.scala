package graft.operators

import graft.core.CacheRegistry
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication at corpus scale. Every method returns a plain
  * DataFrame plan — the one driver-coordinated loop is
  * [[connectedComponents]] (documented there: rounds ~ log diameter,
  * one action per round) — so each scales with the cluster.
  * (North-star extension beyond the reference; the reference's
  * only related primitive is hand-rolled keyed state,
  * reference: lib/transformer.ex:44-47.)
  *
  * Scale design notes:
  *  - exact/fingerprint dedup is one hash-aggregate (map-side partial).
  *  - minhash/simhash candidate generation joins on short band keys, so
  *    the shuffle carries (id, band) pairs, never documents.
  *  - the inverted-index jaccard path caps posting-list length
  *    (`maxDocFreq`) — the standard guard against a stop-shingle
  *    producing a quadratic bucket at 100 TB.
  */
object Dedup {

  /** Exact dedup on a subset of columns: one shuffle, partial agg. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Exact text dedup via md5(normalized text): keeps the smallest id
    * per fingerprint group (deterministic winner).
    */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-shingle sets, materialized in two projection steps so
    * the tokenizer runs once per document, not once per shingle (see
    * TextFunctions.wordShinglesFromWords).
    */
  private[graft] def shingleDocs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), words(col(textCol)).as("_ws"))
      .select(col("id"), array_distinct(wordShinglesFromWords(col("_ws"), n)).as("sh"))

  /** MinHash signature over an already-materialized array of base
    * shingle hashes (`transform(sh, xxhash64)` in its own projection —
    * pass the resulting ATTRIBUTE, so each shingle string is hashed
    * once per document). The `numHashes` family members re-hash the
    * fixed-width base hash with a per-index seed (xxhash64 over 8
    * bytes — ANSI-safe, no overflow semantics needed, and far cheaper
    * than re-hashing the shingle string per family member).
    * Deterministic, no stored coefficients.
    *
    * This is the composable REFERENCE form; the hot path uses the
    * bit-identical fused kernel
    * [[graft.functions.HashFunctions.minhashSignatureFused]] (the
    * `transform` lambdas here evaluate interpretively — `numHashes`
    * array traversals per document vs one).
    */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(baseHashes, h => xxhash64(lit(i), h)))
    }: _*)

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → minhash → band → bucket-join → exact-Jaccard verify.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    * Banding: `bands` bands of `numHashes/bands` rows; a pair collides if
    * any band matches — candidates are then verified with the exact
    * Jaccard over distinct shingles, so banding only affects recall.
    *
    * `maxBucket` caps the per-(band, bucket) self-join population —
    * the LSH twin of the ngram path's `maxDocFreq` guard: one
    * boilerplate bucket of b ids costs b² candidate rows, so at
    * corpus scale a single hot bucket can quadratic a stage. Buckets
    * over the cap are NOT dropped (an exact-duplicate cluster has
    * identical signatures, so the same over-cap bucket recurs in
    * EVERY band and dropping it would silently lose the whole
    * cluster — the primary dedup target). Instead each hot bucket is
    * STAR-LINKED: its minimum id becomes the representative and only
    * (rep, member) candidates are emitted — O(b) rows, and cluster
    * connectivity survives for any downstream connected-components /
    * survivor pass. The trade is pair *completeness* inside hot
    * buckets (member–member pairs appear only if some other band's
    * bucket is under the cap), never reachability. The hot-bucket
    * set is tiny by construction, so routing is a broadcast
    * semi/anti-join, not a second row-scale shuffle. The cap is
    * never silent: [[minhashBucketStats]] reports the same banding's
    * per-bucket populations and which buckets the cap star-links
    * (it shares `bandKeys`, so the two can never disagree).
    * `maxBucket = 0` disables the cap.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 10000): DataFrame = {
    require(
      numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    require(maxBucket >= 0,
      s"minhashPairs: maxBucket must be >= 0 (0 disables), got $maxBucket")
    val rows = numHashes / bands
    // docs feeds banding plus BOTH verification join-backs (different
    // join keys, so ReuseExchange can't help) — persist so tokenization
    // and shingling run once, as ngramJaccardPairs already does.
    val docs = CacheRegistry.persist(shingleDocs(df, idCol, textCol, shingleSize))

    // Banding carries only (id, band, bucket) through the shuffle — the
    // shingle arrays rejoin AFTER candidate pairs are deduped, so a
    // document's shingles cross the wire once per verified pair side,
    // never bands× through the LSH self-join.
    // (id, band, bucket) persisted: with the cap on it feeds both the
    // bucket-population agg and the anti-join — don't re-run the
    // signature kernel for the second pass
    val bandedAll = CacheRegistry.persist(
      docs
        .withColumn("sig", graft.functions.HashFunctions.minhashSignatureFused(col("sh"), numHashes))
        .select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("bb"))
        .select(col("id"), col("bb.band"), col("bb.bucket")))

    // hot-bucket cap: the over-cap (band, bucket) keys are few by
    // construction — broadcast semi/anti-joins route rows, no extra
    // row-scale shuffle. Cold buckets get the full self-join; hot
    // buckets are star-linked through their min id (linear, keeps
    // cluster connectivity — see the scaladoc).
    val cand0 =
      if (maxBucket == 0) selfJoinPairs(bandedAll)
      else {
        val hot = bandedAll.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("_bs"))
          .where(col("_bs") > maxBucket)
          .select(col("band"), col("bucket"))
        val cold = bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
        val hotRows = bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
        val reps = hotRows.groupBy(col("band"), col("bucket"))
          .agg(min(col("id")).as("id_a"))
        val star = hotRows.join(reps, Seq("band", "bucket"))
          .where(col("id") =!= col("id_a"))
          .select(col("id_a"), col("id").as("id_b"))
        selfJoinPairs(cold).union(star)
      }
    val cand = cand0.dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Ordered candidate pairs from a (id, band, bucket) frame: full
    * per-bucket self-join, id_a < id_b. Shared by the cold-bucket
    * path of [[minhashPairs]] and the uncapped path so the two can
    * never diverge in join shape.
    */
  private def selfJoinPairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Banding AUDIT for [[minhashPairs]]'s hot-bucket cap — the
    * no-silent-caps companion: the same shingle→signature→band
    * pipeline (shared [[bandKeys]], so it cannot drift from the pair
    * generator), aggregated to one row per (band, bucket):
    * (band, bucket, n_ids, capped) where `capped` marks buckets the
    * given `maxBucket` star-links through a representative instead of
    * fully self-joining (no ids are dropped — connectivity survives;
    * member–member pair completeness inside those buckets is what the
    * cap trades). Sum `n_ids` over `capped` rows for the affected
    * population; a pipeline that caps should persist or assert over
    * this frame beside the dedup output.
    */
  def minhashBucketStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 10000): DataFrame = {
    require(
      numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    val rows = numHashes / bands
    shingleDocs(df, idCol, textCol, shingleSize)
      .withColumn("sig",
        graft.functions.HashFunctions.minhashSignatureFused(col("sh"), numHashes))
      .select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_ids"))
      .withColumn("capped",
        lit(maxBucket > 0) && col("n_ids") > lit(maxBucket.toLong))
  }

  /** The LSH banding key array for a MinHash signature: one
    * (band, bucket) struct per band, bucket = murmur3 of the band's
    * signature slice. ONE definition shared by [[minhashPairs]] and
    * [[buildDedupIndex]] so a standing index and the pair generator
    * can never disagree on the banding scheme.
    */
  private def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * rows + 1, lit(rows))).as("bucket")))

  /** 64-bit SimHash of the word multiset: per bit, sign of the sum of
    * ±1 votes from xxhash64(word) — one fused codegen pass per row
    * ([[graft.functions.HashFunctions.simhash64Fused]]): no explode, no
    * shuffle, 64 accumulators in registers. Docs with no words are
    * dropped (they carry no signature), matching the aggregate form,
    * which simply has no rows for them.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.functions.HashFunctions.simhash64Fused(words(col(textCol))).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Composable REFERENCE form of [[simhash64]] (explode → 64
    * conditional sums → bit assembly; map-side partial agg, so the
    * shuffle carries one 64-counter row per doc partition). Kept for
    * the bit-identity spec and as the shape a SQL-only engine would
    * use; the fused kernel computes the same signature with no shuffle
    * at all.
    */
  def simhash64Agg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(words(col(textCol))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitSums = (0 until 64).map { bit =>
      sum(when(col("h").bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1)).as(s"b$bit")
    }
    val agg = exploded.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64)
      .map(bit => when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: block on `maxHamming + 1` bit-chunks of the
    * 64-bit signature — by pigeonhole, a pair within hamming distance
    * `maxHamming` must agree exactly on at least one chunk, so the
    * blocking guarantee always matches the parameter. Candidates are
    * verified with the exact popcount of the XOR.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(
      maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nChunks = maxHamming + 1
    val width = 64 / nChunks // last chunk absorbs the remainder bits
    val sigs = simhash64(df, idCol, textCol)
    val chunked = sigs.select(
      col("id"),
      col("simhash"),
      explode(array((0 until nChunks).map { c =>
        val bits = if (c == nChunks - 1) 64 - c * width else width
        val mask = if (bits >= 64) -1L else (1L << bits) - 1L
        struct(
          lit(c).as("chunk"),
          shiftright(col("simhash"), c * width).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    val a = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("simhash").as("sig_b"))
    // verify-THEN-dedup: hamming is deterministic per pair, so the
    // dedup exchange carries only surviving (id_a, id_b, hamming) rows
    // instead of every chunk-collision candidate (a pair matching in
    // several chunks re-pays one bit_count — nothing — and the
    // exchange shrinks by the filter's selectivity)
    a.join(b, Seq("chunk", "key"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact n-gram Jaccard pairs via a document-frequency-capped inverted
    * index: explode distinct shingles, drop shingles appearing in more
    * than `maxDocFreq` docs (they cannot discriminate and would create
    * quadratic buckets), join postings, verify Jaccard exactly.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 1000): DataFrame = {
    // docs is scanned three times (postings + two verification
    // join-backs) and postings twice (df-cap + candidate self-join):
    // persist both so shingling runs once per document, not 4-5×. The
    // blocks release via CacheRegistry.unpersistAll() / Sink.drain();
    // at corpus scale this is the stage a real pipeline would write to
    // scratch storage anyway.
    val docs = CacheRegistry.persist(shingleDocs(df, idCol, textCol, shingleSize))
    val postings = CacheRegistry.persist(docs.select(col("id"), explode(col("sh")).as("g")))
    val rare = postings
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq && col("df") >= 2)
    val filtered = postings.join(rare, "g")
    val cand = filtered.select(col("g"), col("id").as("id_a"))
      .join(filtered.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Jaccard threshold SWEEP — the dedup-tuning curve: how many
    * candidate pairs survive each threshold? One exact-jaccard pass
    * over the df-capped candidates (the [[ngramJaccardPairs]] plan,
    * computed ONCE), then a per-threshold count via an integer ppm
    * bucket comparison — sweeping the knob costs nothing beyond the
    * single verification it always needed. Output one row per
    * threshold: (threshold_ppm, n_pairs) — pairs with
    * jaccard·10⁶ ≥ threshold_ppm, where the ppm form is the exact
    * integer |∩|·10⁶ div |∪| (no float boundary ambiguity at the
    * cut).
    */
  def jaccardSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      thresholdsPpm: Seq[Long] = Seq(200000L, 400000L, 600000L, 800000L),
      maxDocFreq: Int = 1000): DataFrame = {
    require(thresholdsPpm.nonEmpty && thresholdsPpm.forall(t => t >= 0 && t <= 1000000L),
      s"jaccardSweep: thresholds must be ppm in [0, 1e6], got $thresholdsPpm")
    val docs = CacheRegistry.persist(shingleDocs(df, idCol, textCol, shingleSize))
    val postings = docs.select(col("id"), explode(col("sh")).as("g"))
      .transform(CacheRegistry.checkpoint(_))
    val rare = postings
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq && col("df") >= 2)
    val filtered = postings.join(rare, "g")
    val cand = filtered.select(col("g"), col("id").as("id_a"))
      .join(filtered.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val jac = cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select((size(array_intersect(col("sh_a"), col("sh_b"))).cast("long") * 1000000L /
        size(array_union(col("sh_a"), col("sh_b"))).cast("long")).cast("long")
        .as("_jppm"))
      .transform(CacheRegistry.checkpoint(_))
    thresholdsPpm.map { t =>
      jac.where(col("_jppm") >= t)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_pairs"))
        .select(lit(t).as("threshold_ppm"), col("n_pairs"))
    }.reduce(_ unionByName _)
  }

  /** Connected components over an undirected duplicate-pair graph:
    * every node ends up labeled with the smallest id in its component —
    * the survivor-selection step after near-dup pair generation (keep
    * `component`, drop the rest).
    *
    * Min-label propagation accelerated with pointer jumping,
    * driver-coordinated like [[Loop]]. Each round:
    *   1. propagate: m(id) = min(own label, neighbor labels) — one
    *      join against the checkpointed symmetric edge list;
    *   2. jump: follow the label one hop through the label table
    *      (label(m) <= m always holds, labels are node ids), which
    *      contracts chains geometrically — rounds ~ log(diameter)
    *      instead of diameter;
    *   3. ONE action materializes the round: the new label frame is a
    *      lazy localCheckpoint and the convergence probe (sum of a
    *      `_chg` flag computed in the same plan) is the job that
    *      forces it. No separate convergence join, no second pass
    *      over the propagation plan.
    * Wall-clock is rounds × one shuffle-join job, the scale shape the
    * large-star/small-star contraction papers target, with the same
    * driver-loop skeleton.
    */
  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      edges: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 50,
      bestEffort: Boolean = false): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // Materialize the (possibly expensive) edge plan once — every
    // propagation round joins against it, and without the checkpoint
    // the full upstream pair-generation pipeline would re-run per round.
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .transform(CacheRegistry.checkpoint(_))
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("component"))
      .transform(CacheRegistry.checkpoint(_))
    // the latest round checkpoint, released once the next one is
    // materialized
    var lastCp = labels
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Propagate: min over (own label ∪ neighbor labels) in ONE
      // aggregation — the self-label rides the union instead of a
      // separate left join, and the same aggregate recovers the old
      // label (max of the self-tagged rows; each id has exactly one)
      // for change detection. One join + one agg, vs join + agg +
      // join in the naive form.
      val prop = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("component"), lit(false).as("_self"))
        .unionAll(labels.select(col("id"), col("component"), lit(true).as("_self")))
        .groupBy(col("id"))
        .agg(
          min(col("component")).as("_m"),
          max(when(col("_self"), col("component"))).as("_old"))
        // edge endpoints absent from `nodes` have no self row — drop
        // them (the pre-fusion left join did this implicitly)
        .where(col("_old").isNotNull)
      // Pointer jump: labels(_m) — _m is always a node id, so the
      // label table itself is the parent table.
      val parents = labels.select(col("id").as("_pid"), col("component").as("_pcomp"))
      val jumped = least(col("_m"), coalesce(col("_pcomp"), col("_m")))
      val next = prop.join(parents, col("_m") === col("_pid"), "left")
        .select(
          col("id"),
          jumped.as("component"),
          (jumped =!= col("_old")).as("_chg"))
        // lazy: materialized by the probe below
        .transform(CacheRegistry.checkpoint(_, eager = false))
      val changed = next
        .agg(coalesce(sum(when(col("_chg"), 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      CacheRegistry.release(lastCp)
      lastCp = next
      labels = next.select(col("id"), col("component"))
      converged = changed == 0L
      i += 1
    }
    if (!converged) {
      // Labels mid-propagation are WRONG (far nodes still carry
      // intermediate minima), so silent return would corrupt survivor
      // selection — fail unless the caller opted into partial labels.
      val msg =
        s"connectedComponents did not converge within $maxIter rounds " +
          "(graph diameter exceeds maxIter); labels are incomplete"
      if (!bestEffort) throw new IllegalStateException(msg)
      System.err.println(s"[graft.Dedup.connectedComponents] $msg")
    }
    labels
  }

  /** Per-document duplicated-span fraction: the share of a document's
    * distinct word n-grams that already occur in an earlier document
    * (smaller id) — the C4/RefinedWeb-style "how much of this doc is
    * copied text" signal, usable as a filter threshold without running
    * full pair-wise dedup.
    *
    * Scale design: explode distinct grams once (persisted — it feeds
    * both the first-owner aggregate and the join back), hash-aggregate
    * min(id) per gram, one join on the gram key, one final per-doc
    * aggregate. The shuffle carries (id, gram) keys; no df cap is
    * applied because dropping common grams would change the fraction —
    * the gram aggregate is a plain hash-agg and scales like any
    * word-count.
    *
    * Docs with NO word tokens have no grams and are absent from the
    * output (the shingle fallback would otherwise give every empty doc
    * the same "" gram — and every empty doc after the first a bogus
    * dup_frac of 1.0).
    */
  def duplicateSpanFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val grams = CacheRegistry.persist(
      df.select(col(idCol).as("id"), words(col(textCol)).as("_ws"))
        .where(size(col("_ws")) > 0)
        .select(col("id"),
          explode(array_distinct(wordShinglesFromWords(col("_ws"), shingleSize))).as("g")))
    val owner = grams.groupBy(col("g")).agg(min(col("id")).as("first_id"))
    grams.join(owner, "g")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("n_dup"))
      .select(
        col("id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 4).as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL (the cleaning step behind
    * "Deduplicating Training Data Makes Language Models Better", Lee
    * et al., ACL'22): any word n-gram occurrence whose gram text also
    * appears in an EARLIER document (smaller id — the first-owner
    * convention shared with [[duplicateSpanFraction]]) is removed,
    * along with every token it covers; the first owner keeps its
    * copy, so exactly one copy of each duplicated span survives the
    * corpus. Within-doc repeats are untouched (their owner is the doc
    * itself). Docs with fewer than `n` tokens generate no grams and
    * pass through unchanged.
    *
    * Defined over the [[graft.functions.TextFunctions.words]] token
    * stream (lowercased, punctuation-split), so `clean_text` is
    * normalized token text rejoined with single spaces — the form
    * training pipelines tokenize anyway; a raw-byte-offset variant
    * would need char spans and is deliberately out of scope.
    *
    * Scale shape: one (id, pos, gram) explode (persisted — feeds the
    * owner aggregate and the join back), one hash-agg min(id) per
    * gram, one join on the gram key, then coverage expansion is ≤ n
    * rows per REMOVED occurrence only (never n·|tokens|), an anti
    * join on (id, pos), and one per-doc sort_array aggregate to
    * rebuild text order without any non-deterministic collect_list
    * ordering. Shuffles carry token/gram keys, never documents.
    * Output: `id, n_tokens, n_removed, clean_text`.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 2, s"removeDuplicateSpans: n must be >= 2, got $n")
    val docs = CacheRegistry.persist(
      df.select(col(idCol).as("id"), words(col(textCol)).as("_ws"))
        .where(size(col("_ws")) > 0))
    val grams = CacheRegistry.persist(
      docs.where(size(col("_ws")) >= n)
        .select(col("id"),
          posexplode(wordShinglesFromWords(col("_ws"), n)).as(Seq("pos", "g"))))
    val owner = grams.groupBy(col("g")).agg(min(col("id")).as("_owner"))
    val covered = grams.join(owner, "g")
      .where(col("_owner") < col("id"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("_cp"))
      .distinct()
    // both sides descend from the same cached `docs` lineage — alias
    // them so the join predicate stays qualified (relying on Spark's
    // automatic self-join disambiguation trips the "trivially true
    // predicate" WARN and is version-fragile)
    val toks = docs.select(col("id"), posexplode(col("_ws")).as(Seq("_i", "_wd")))
      .alias("_t")
    val kept = toks.join(covered.alias("_c"),
        col("_t.id") === col("_c.id") && col("_t._i") === col("_c._cp"),
        "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("_nk"),
        sort_array(collect_list(struct(col("_i"), col("_wd")))).as("_a"))
      .select(col("id"), col("_nk"), array_join(col("_a._wd"), " ").as("_txt"))
    docs.select(col("id"), size(col("_ws")).as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nk"), lit(0L))).as("n_removed"),
        coalesce(col("_txt"), lit("")).as("clean_text"))
  }

  /** One-sided containment pairs: |A ∩ B| / |A| >= threshold — the
    * quote/inclusion detector (a short document fully contained in a
    * long one scores 1.0 here but near 0 on Jaccard). Emitted per
    * DIRECTION (id_a containing-side set in the denominator, id_a !=
    * id_b), since containment is asymmetric. Candidate generation is
    * the same df-capped inverted index as [[ngramJaccardPairs]] —
    * banding recall/quadratic-bucket properties carry over unchanged.
    *
    * Docs with NO word tokens are excluded: the shingle fallback gives
    * them all the identical "" gram, which would report unrelated
    * empty docs as mutually contained (containment 1.0).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 1000): DataFrame = {
    // filter on the materialized word array so the regex tokenizer
    // runs once per doc, not once in the filter + once in shingling
    val docs = CacheRegistry.persist(
      df.select(col(idCol).as("id"), words(col(textCol)).as("_ws"))
        .where(size(col("_ws")) > 0)
        .select(col("id"), array_distinct(wordShinglesFromWords(col("_ws"), shingleSize)).as("sh")))
    val postings = CacheRegistry.persist(docs.select(col("id"), explode(col("sh")).as("g")))
    val rare = postings
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq && col("df") >= 2)
    val filtered = postings.join(rare, "g")
    val cand = filtered.select(col("g"), col("id").as("id_a"))
      .join(filtered.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / size(col("sh_a")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
  }

  /** Fuzzy (edit-distance) join over the distinct values of two string
    * columns: pairs with `levenshtein(a, b) <= maxEdit`, the entity-
    * resolution primitive. Candidate generation uses Ed-Join-style
    * PREFIX FILTERING: under one global gram order (ascending document
    * frequency over both sides, gram as tiebreak), each value keeps
    * only its `maxEdit·q + 1` first grams — k edits disturb at most
    * k·q q-grams, so two values within k edits must share a gram from
    * these prefixes. Joining prefixes instead of full gram sets is
    * what keeps clustered values (common prefixes, shared vocabulary)
    * from exploding quadratically: candidate volume follows the RARE
    * gram frequencies. A length band (`|len(a)-len(b)| <= maxEdit`,
    * necessary for any match) prunes further; survivors verify with
    * the exact codegen `levenshtein`.
    *
    * The prefix theorem needs `> maxEdit·q` distinct grams on both
    * sides — a shorter (or gram-poor repetitive, or `len < q` and thus
    * gram-LESS) value can have its every gram destroyed by the allowed
    * edits. Those values take a FALLBACK path: each short value joins
    * the other side on exact length keys (its `2·maxEdit + 1`
    * admissible lengths, exploded), so the extra candidate volume is
    * |short values| × (values per length band) — short values are a
    * thin slice of any real corpus, and the length equi-join keeps the
    * fallback a hash join, never a cross join. With both paths the
    * result EQUALS the quadratic join — no recall loss for any input.
    */
  def fuzzyJoin(
      left: DataFrame,
      right: DataFrame,
      leftCol: String,
      rightCol: String,
      maxEdit: Int,
      q: Int = 2): DataFrame = {
    require(maxEdit >= 0, s"maxEdit must be >= 0, got $maxEdit")
    require(q >= 1, s"q must be >= 1, got $q")
    val prefixLen = maxEdit * q + 1
    def vals(df: DataFrame, c: String, as: String) =
      df.select(col(c).as(as)).where(col(as).isNotNull).distinct()
    // Each side's value and gram frames feed three consumers apiece
    // (gram order, prefix join, short-value fallback) — persist so the
    // distinct and the shingle explode run once, not per leg.
    val lv = CacheRegistry.persist(vals(left, leftCol, "left_val"))
    val rv = CacheRegistry.persist(vals(right, rightCol, "right_val"))
    def grams(values: DataFrame, as: String) =
      values.select(col(as), explode(array_distinct(charShingles(col(as), q))).as("g"))
    val lg = CacheRegistry.persist(grams(lv, "left_val"))
    val rg = CacheRegistry.persist(grams(rv, "right_val"))
    // One global gram order for BOTH sides: ascending df, gram tiebreak.
    val dfOrder = lg.select(col("g")).unionAll(rg.select(col("g")))
      .groupBy("g").agg(count(lit(1)).as("_df"))
    def prefix(postings: DataFrame, valCol: String) = {
      val w = Window.partitionBy(col(valCol)).orderBy(col("_df"), col("g"))
      postings.join(dfOrder, "g")
        .withColumn("_rk", row_number().over(w))
        .where(col("_rk") <= prefixLen)
        .select(col(valCol), col("g"))
    }
    val prefixPairs = prefix(lg, "left_val").join(prefix(rg, "right_val"), "g")
      .select(col("left_val"), col("right_val"))
    // Fallback for gram-poor values (fewer than prefixLen distinct
    // grams — including len < q, which produces none at all and would
    // otherwise vanish from the posting join entirely): pair them with
    // the other side on exact admissible lengths.
    def short(values: DataFrame, postings: DataFrame, as: String) =
      values.join(
        postings.groupBy(as).agg(count(lit(1)).as("_n")).where(col("_n") >= prefixLen),
        Seq(as), "left_anti")
    def banded(shorts: DataFrame, shortCol: String, other: DataFrame, otherCol: String) =
      shorts
        .withColumn("_len",
          explode(sequence(
            greatest(length(col(shortCol)) - maxEdit, lit(0)),
            length(col(shortCol)) + maxEdit)))
        .join(other.withColumn("_len", length(col(otherCol))), "_len")
        .select(col("left_val"), col("right_val"))
    val shortPairs =
      banded(short(lv, lg, "left_val"), "left_val", rv, "right_val")
        .unionAll(banded(short(rv, rg, "right_val"), "right_val", lv, "left_val"))
    prefixPairs.unionAll(shortPairs)
      .where(abs(length(col("left_val")) - length(col("right_val"))) <= maxEdit)
      .dropDuplicates("left_val", "right_val")
      .withColumn("edit_dist", levenshtein(col("left_val"), col("right_val")))
      .where(col("edit_dist") <= maxEdit)
  }

  /** Corpus-level paragraph dedup (the CCNet move): drop every repeated
    * paragraph OCCURRENCE — across documents and within one — keeping
    * only its first owner (smallest `(id, pos)`), then reassemble each
    * document from its surviving paragraphs in order. Documents whose
    * every paragraph is owned elsewhere drop out entirely.
    *
    * Takes an already-split `(id, pos, para)` frame — splitting is
    * corpus-specific (blank lines, sentence bounds, fixed word
    * windows; see [[TrainingData.chunkWords]]) and stays caller-side.
    * Returns `(id, n_kept, text)`.
    *
    * Scale shape: ownership is a windowed min over md5(paragraph) —
    * one shuffle on the fingerprint, one for the per-doc rebuild; the
    * shuffle payload is paragraphs, never whole documents twice.
    * Boilerplate paragraphs repeated across the whole corpus make hot
    * fingerprint partitions — the standard mitigation (pre-filter
    * ultra-high-df fingerprints into a broadcast kill set) composes in
    * front of this operator.
    */
  def dropDuplicateParagraphs(
      paras: DataFrame,
      idCol: String,
      posCol: String,
      paraCol: String,
      sep: String = "\n\n"): DataFrame = {
    val w = Window.partitionBy(col("_fp"))
    val kept = fingerprinted(paras, idCol, posCol, paraCol)
      .withColumn("_owner", min(struct(col("id"), col("pos"))).over(w))
      .where(col("_owner.id") === col("id") && col("_owner.pos") === col("pos"))
    reassemble(kept, sep)
  }

  /** Corpus-boilerplate removal: paragraphs whose fingerprint occurs in
    * `minDocFreq`+ DISTINCT documents are dropped from EVERY document —
    * cookie banners, nav chrome, license footers. Complements
    * [[dropDuplicateParagraphs]] (which keeps one owner); boilerplate
    * is noise in every copy, so no owner survives.
    *
    * The kill set is df-filtered but still corpus-bound — on a web
    * corpus at `minDocFreq = 2` it is a large fraction of all distinct
    * paragraphs, so it is NOT broadcast-hinted: the anti-join shuffles
    * on the fingerprint (AQE broadcasts when the set really is small,
    * e.g. high `minDocFreq`), and per-row work in the anti-join is a
    * hash probe, so even a corpus-wide banner fingerprint costs its
    * partition only volume, which AQE's skew split absorbs.
    */
  def dropBoilerplateParagraphs(
      paras: DataFrame,
      idCol: String,
      posCol: String,
      paraCol: String,
      minDocFreq: Int,
      sep: String = "\n\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val fp = fingerprinted(paras, idCol, posCol, paraCol)
    val hot = fp.groupBy(col("_fp"))
      .agg(countDistinct(col("id")).as("_df"))
      .where(col("_df") >= minDocFreq)
      .select(col("_fp"))
    reassemble(fp.join(hot, Seq("_fp"), "left_anti"), sep)
  }

  private def fingerprinted(
      paras: DataFrame, idCol: String, posCol: String, paraCol: String): DataFrame =
    paras
      .select(col(idCol).as("id"), col(posCol).as("pos"), col(paraCol).as("para"))
      .withColumn("_fp", md5(col("para")))

  private def reassemble(kept: DataFrame, sep: String): DataFrame =
    kept
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("para")))).as("_arr"))
      .select(col("id"), col("n_kept"), array_join(col("_arr.para"), sep).as("text"))

  /** Blocked record-linkage join: equi-join on a user-chosen blocking
    * key (nation, zip, phonetic code — whatever bounds the candidate
    * space), then verify candidates with the fused codegen
    * [[graft.functions.JaroWinklerSim]] kernel at `threshold`. Output
    * is the joined row plus a `jw_sim` column.
    *
    * Unlike [[fuzzyJoin]]'s prefix-filter (exact for edit distance),
    * Jaro-Winkler admits no lossless cheap blocking — candidate
    * completeness is the BLOCKING KEY's contract, supplied by the
    * caller as in every production linkage system. Within blocks the
    * verify is exact and bit-reproducible (byte-pinned to DuckDB's
    * `jaro_winkler_similarity`). Scale shape: one shuffle per side on
    * the block key; skewed blocks are the caller's salt-or-split
    * responsibility, same as any equi-join.
    */
  def linkageJoin(
      left: DataFrame,
      right: DataFrame,
      blockKeys: Seq[(Column, Column)],
      leftStr: Column,
      rightStr: Column,
      threshold: Double): DataFrame = {
    require(blockKeys.nonEmpty, "linkageJoin: at least one blocking key pair")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"linkageJoin: threshold must be in [0,1], got $threshold")
    val cond = blockKeys.map { case (l, r) => l === r }.reduce(_ && _)
    // explicit exchange on the block keys: small inputs make Catalyst
    // broadcast the right side, and a broadcast join inherits the
    // LEFT side's partitioning — often one file-scan task carrying
    // every |block|² similarity call. The repartition ships only the
    // pre-explosion rows and spreads the pair work over the shuffle
    // grid (same move as [[editDistanceLink]]).
    val shufflePartitions = left.sparkSession.sessionState.conf.numShufflePartitions
    left.repartition(shufflePartitions, blockKeys.map(_._1): _*)
      .join(right, cond)
      .withColumn("jw_sim", graft.functions.StringFunctions.jaroWinkler(leftStr, rightStr))
      .where(col("jw_sim") >= threshold)
  }

  /** Blocked edit-distance (Levenshtein) linkage — the other classic
    * record-linkage kernel next to [[linkageJoin]]'s Jaro-Winkler:
    * within each block, every id-ordered pair within `maxDist` edits,
    * summarized per block (n_pairs, min_dist, sum_dist) so the output
    * stays |blocks|-bounded however dense a block's near-match
    * neighborhood is.
    *
    * Scale shape: the self-join shuffles on the BLOCK key only —
    * per-block work is |block|² distance evaluations, which is the
    * standard linkage trade (choose blocks so |block| is hundreds,
    * not millions); `levenshtein` is Spark's codegen'd builtin, and
    * `maxDist` prunes before the aggregate. Exact integers
    * throughout. Output: (block, n_pairs, min_dist, sum_dist).
    */
  def editDistanceLink(df: DataFrame, blockCol: Column, idCol: Column,
      strCol: Column, maxDist: Int, salts: Int = 8): DataFrame = {
    require(maxDist >= 0, s"editDistanceLink: maxDist must be >= 0, got $maxDist")
    require(salts >= 1, s"editDistanceLink: salts must be >= 1, got $salts")
    val side = df.where(blockCol.isNotNull && idCol.isNotNull && strCol.isNotNull)
      .select(blockCol.as("_blk"), idCol.as("_id"), strCol.as("_s"))
    // Two scale levers over the naive block self-join:
    //  - SALT the join key: |blocks| can be far below the core count
    //    (25 nations), so an unsalted equi-join runs ≤|blocks| tasks;
    //    the left row keeps one hash-salt, the right side replicates
    //    `salts` ways — every pair still forms exactly once, on
    //    |blocks|·salts parallel keys.
    //  - THRESHOLDED levenshtein: the 3-arg kernel abandons a pair the
    //    moment its banded DP proves dist > maxDist — O(len·maxDist)
    //    instead of O(len²) on the (overwhelmingly) non-matching pairs.
    //    It returns -1 above the threshold, so the exact-distance
    //    filter becomes BETWEEN 0 AND maxDist.
    //  - EXPLICIT exchange on (_blk, _salt) for the probe side: the
    //    inputs are small enough that Catalyst broadcasts the build
    //    side, and a broadcast join inherits the PROBE side's
    //    partitioning — for a handful of parquet files that is ONE
    //    task carrying every |block|² pair and every levenshtein call
    //    (measured 9s single-task vs <1s spread at sf0.1). The
    //    repartition ships only the tiny pre-explosion rows; the pair
    //    work then runs on the full shuffle grid whatever join
    //    strategy is picked.
    val shufflePartitions = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = side.select(col("_blk"), pmod(hash(col("_id")), lit(salts)).as("_salt"),
      col("_id").as("_id1"), col("_s").as("_s1"))
      .repartition(shufflePartitions, col("_blk"), col("_salt"))
    val b = side.select(col("_blk"),
        explode(sequence(lit(0), lit(salts - 1))).as("_salt"),
        col("_id").as("_id2"), col("_s").as("_s2"))
    a.join(b, Seq("_blk", "_salt"))
      .where(col("_id1") < col("_id2"))
      .select(col("_blk").as("block"),
        levenshtein(col("_s1"), col("_s2"), maxDist).as("_d"))
      .where(col("_d").between(0, maxDist))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("_d")).cast("long").as("min_dist"),
        sum(col("_d")).as("sum_dist"))
  }

  /** Component labels for the nodes INCIDENT to a pair edge, with the
    * (typically expensive) pair plan materialized exactly once — both
    * the node set and the propagation edges derive from the same
    * checkpoint, so candidate generation + verification never re-runs.
    * Docs in no pair are their own component and never change, so
    * pushing them through every CC round would scale the propagation
    * joins with the corpus instead of with the (typically tiny)
    * near-dup graph; callers recover singletons with an anti-join or a
    * left join + coalesce. Shared by [[dropNearDuplicates]] and
    * [[TrainingData.leakageSafeSplit]].
    */
  private[operators] def edgeIncidentLabels(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val p = CacheRegistry.checkpoint(pairs)
    val nodes = p.select(col(aCol).as("id"))
      .unionAll(p.select(col(bCol).as("id"))).distinct()
    connectedComponents(nodes, "id", p, aCol, bCol)
  }

  /** One-call near-duplicate removal: n-gram Jaccard pair generation →
    * connected components → keep each cluster's representative (the
    * smallest id). The composition every dedup user actually wants;
    * the staged forms remain available for pipelines that need the
    * pairs or labels themselves.
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 1000): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, shingleSize, threshold, maxDocFreq)
    val labels = edgeIncidentLabels(pairs)
    // survivors = everything minus cluster non-representatives
    df.join(
      labels.where(col("id") =!= col("component")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** The persistent dedup index a standing corpus maintains: one row
    * per document with its exact fingerprint and MinHash signature
    * band keys — what day-2 ingestion dedupes NEW batches against
    * without rescanning yesterday's documents. At 100 TB this is the
    * table you keep partitioned by band/bucket on disk; each incoming
    * batch joins against it and appends its own rows.
    */
  def buildDedupIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    val rows = numHashes / bands
    // WORDLESS docs (no word tokens) get their fp row but NO band keys
    // (explode_outer of an empty array → null band/bucket, which never
    // equi-joins): the "" fallback shingle would otherwise give every
    // wordless doc the same constant signature and the band path —
    // which has no verification step — would drop unrelated wordless
    // docs as near-dups (the same conflation duplicateSpanFraction and
    // containmentPairs guard against). Exact dedup still covers them
    // via the fingerprint.
    df.select(
      col(idCol).as("id"),
      fingerprint(col(textCol)).as("fp"),
      words(col(textCol)).as("_ws"))
      .select(
        col("id"), col("fp"),
        when(size(col("_ws")) > 0,
          graft.functions.HashFunctions.minhashSignatureFused(
            array_distinct(wordShinglesFromWords(col("_ws"), shingleSize)), numHashes))
          .as("sig"))
      .select(
        col("id"), col("fp"),
        explode_outer(when(col("sig").isNotNull, bandKeys(col("sig"), bands, rows))).as("bb"))
      .select(col("id"), col("fp"), col("bb.band"), col("bb.bucket"))
  }

  /** Incremental dedup: drop rows of a NEW batch that duplicate the
    * standing corpus behind `index` ([[buildDedupIndex]] rows, same
    * shingle/hash parameters). Exact duplicates match on fingerprint;
    * near-duplicates match on any LSH band key (the all-bands-collide
    * signature test of the streaming variant, relaxed to any-band —
    * conservative towards dropping, like production ingestion dedup;
    * raise `bands` on the index to loosen). Both checks are LEFT ANTI
    * joins on short keys — the new batch never joins documents, and
    * the standing corpus is never rescanned.
    */
  def dropAgainstIndex(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val newIdx = CacheRegistry.persist(
      buildDedupIndex(newDocs, idCol, textCol, shingleSize, numHashes, bands))
    // fp check on one-row-per-doc projections (the index is band-
    // exploded — joining it raw would shuffle bands× the needed rows)
    val hitFp = newIdx.select(col("id"), col("fp")).distinct()
      .join(index.select(col("fp")).distinct(), Seq("fp"), "left_semi")
    val hitBand = newIdx.where(col("band").isNotNull).join(
      index.select(col("band"), col("bucket")), Seq("band", "bucket"), "left_semi")
    val dupIds = hitFp.select(col("id")).unionAll(hitBand.select(col("id"))).distinct()
    newDocs.join(dupIds.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the sampled
    * driver-trained coarse quantizer the IVF index uses
    * ([[Similarity.buildIvfIndex]] — bounded `takeSample`, local
    * Lloyd's, fused codegen cell assignment), generate candidate pairs
    * ONLY within a cell, and verify every candidate with the exact
    * fused cosine kernel. Candidates are an equi-join on the cell id —
    * the shuffle carries each vector once, and pair work is
    * Σ|cell|² instead of n²: size `nlist` so cells stay bounded
    * (FAISS-style nlist ≈ n / targetCellSize; at 100 TB the assigned
    * frame would live as cell-partitioned parquet, exactly like the
    * persisted IVF index).
    *
    * Found pairs are a SUBSET of the exact cosine≥threshold pair set by
    * construction (exact verification); clustering only costs recall
    * for pairs whose `probes` nearest cells are disjoint — multi-probe
    * assignment (each vector participates in its `probes` nearest
    * cells, pairs dedup'd) recovers boundary-straddling pairs at the
    * cost of `probes`× shuffle volume.
    *
    * DEFAULT ENTRY POINT once cells can no longer be kept small —
    * corpora past ~10M vectors, or any skewed embedding space where a
    * hot cell would go quadratic — is the kNN-graph composition:
    * [[Similarity.ivfKnnGraph]] candidates through
    * [[semanticPairsFromCandidates]] (one call:
    * [[semanticDedupViaKnnGraph]]), which bounds per-vector candidate
    * fan-out at k·nprobe regardless of cell population. THIS form's
    * within-cell all-pairs (Σ|cell|²) is the exact-recall-per-cell
    * kernel for corpora where nlist ≈ n / targetCellSize keeps every
    * cell bounded.
    */
  def semanticPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nlist: Int = 16,
      probes: Int = 2,
      trainSample: Int = 4096,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions.nearestCentroids
    val cents = Similarity.trainCentroids(df, vecCol, nlist, trainSample, seed)
    val assigned = CacheRegistry.persist(
      df.select(
        col(idCol).as("id"), col(vecCol).as("v"),
        explode(nearestCentroids(col(vecCol), cents, math.min(probes, cents.length)))
          .as("cell")))
    Similarity.verifiedCosinePairs(assigned, Seq("cell"), threshold)
  }

  /** One-call semantic dedup: [[semanticPairs]], then drop every row
    * whose embedding has a verified near-duplicate with a smaller id
    * (the deterministic min-id survivor rule — greedy per pair, no
    * transitive closure: SemDeDup keeps one representative per
    * *pairwise* duplicate relation, which is the published semantics).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nlist: Int = 16,
      probes: Int = 2,
      trainSample: Int = 4096,
      seed: Long = 42L): DataFrame = {
    val dropped = semanticPairs(df, idCol, vecCol, threshold, nlist, probes, trainSample, seed)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact-cosine verification of an EXTERNAL candidate pair frame —
    * the composition point between the ANN graph builders and the
    * SemDeDup survivor rule: feed [[Similarity.ivfKnnGraph]] output
    * (default column names) or any (a, b) id frame, and get back the
    * ordered verified pair set (id_a < id_b, cosine ≥ threshold).
    * Candidates are normalized (ordered, deduped) BEFORE the vector
    * join-backs, so each surviving pair ships its two vectors once
    * regardless of how many times the generator proposed it.
    */
  def semanticPairsFromCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      candidates: DataFrame,
      threshold: Double = 0.95,
      aCol: String = "query_id",
      bCol: String = "neighbor_id"): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val cand = candidates
      .select(least(col(aCol), col(bCol)).as("id_a"),
        greatest(col(aCol), col(bCol)).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("_va")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("_vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("_va"), col("_vb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDeDup over the corpus-scale ANN kNN graph — the DEFAULT
    * composition at 100 TB: candidates from
    * [[Similarity.ivfKnnGraph]] (no broadcast query set, pair work
    * Σ_cell probers·members), verification and the min-id survivor
    * rule from the SemDeDup path. Versus [[semanticDedup]]'s
    * within-cell all-pairs (Σ|cell|² — right when cells are sized to
    * stay small), the kNN route bounds per-vector candidate fan-out
    * at k·nprobe regardless of cell population, so a dense duplicate
    * cluster costs k·|cluster| rather than |cluster|² — recall is
    * bounded by the graph's k (a row is kept only if NONE of its k
    * nearest candidates is an above-threshold smaller id, which is
    * exactly the SemDeDup representative test in practice since the
    * top-k are the highest-cosine neighbors).
    */
  def semanticDedupViaKnnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      k: Int = 8,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    // verify on the exact cosine ALREADY carried by the kNN graph's
    // candidate rows ([[Similarity.ivfKnnRaw]] — the public graph only
    // rounds it on output; the fused kernel is symmetric and
    // index-order deterministic, so the raw value is bit-identical to
    // the cosine(v_a, v_b) a join-back would recompute). The previous
    // shape re-joined BOTH dense vectors onto every candidate pair
    // (two |pairs|⋈|corpus| hash joins shuffling the embedding
    // payload) purely to recompute that number. Verify-then-dedup
    // keeps the id exchange carrying ids only (the r16 pair-generator
    // discipline); the dropped set is the same
    // {max(a,b) : cosine(a,b) >= threshold} either way.
    val cands = Similarity.ivfKnnRaw(df, idCol, vecCol, k, nlist, nprobe,
      seed = seed)
    val dropped = cands
      .where(col("cosine") >= threshold)
      .select(greatest(col("query_id"), col("neighbor_id")).as(idCol))
      .distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: sign-random-projection buckets
    * (multi-table for recall), verify with exact cosine. The join key is
    * (table, bucket) — shuffle carries ids + vectors once per table.
    *
    * `bits < 0` (default) sizes the bucket space to the corpus:
    * `max(4, log2(n/128))`, keeping expected bucket occupancy ~constant.
    * This matters: candidate volume is Σ bucket², so a bucket count
    * tuned for one corpus size is quadratic-blowup at 10× that size
    * (measured: fixed 4 bits went 2s → 250s on a 10× corpus; adaptive
    * bits stay linear in matches).
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = -1,
      tables: Int = 2,
      knownCount: Option[Long] = None): DataFrame = {
    val effectiveBits =
      if (bits > 0) bits
      else {
        // Adaptive sizing needs the corpus cardinality; pass knownCount
        // when df is an expensive derived pipeline — otherwise this
        // count() action runs the upstream plan once, eagerly (logged,
        // since the cost lands on whatever timing wraps plan building).
        val n = knownCount.getOrElse {
          System.err.println(
            "[graft.Dedup.embeddingCosinePairs] no knownCount given: running an eager " +
              "count() over the input to size the LSH bucket space (pass knownCount " +
              "or explicit bits to avoid re-executing a derived input)")
          df.count()
        }
        math.max(4, math.ceil(math.log(math.max(n, 1L).toDouble / 128.0) / math.log(2.0)).toInt)
      }
    Similarity.verifiedCosinePairs(
      Similarity.lshTables(df, idCol, vecCol, "id", "v", effectiveBits, tables, 42L),
      Seq("tbl", "bucket"), threshold)
  }

  /** MinHash-LSH parameter plan: given a signature budget and a
    * target jaccard threshold, pick the (bands, rows) split whose
    * S-curve inflection (1/b)^(1/r) lands closest to the target, and
    * report the capture probability AT the target. Pure driver math —
    * run it before [[minhashPairs]] instead of hand-guessing band
    * counts; at 100 TB a mis-set band count is either a recall hole
    * (threshold too high) or a candidate-pair explosion (too low).
    */
  final case class LshPlan(bands: Int, rows: Int, inflection: Double,
      captureAtTarget: Double)

  def lshPlan(numHashes: Int, targetThreshold: Double): LshPlan = {
    require(numHashes >= 2, s"lshPlan: need >= 2 hashes, got $numHashes")
    require(targetThreshold > 0.0 && targetThreshold < 1.0,
      s"lshPlan: threshold must be in (0,1), got $targetThreshold")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    val (b, r, inf) = candidates.minBy { case (_, _, t) =>
      math.abs(t - targetThreshold)
    }
    val capture = 1.0 - math.pow(1.0 - math.pow(targetThreshold, r), b)
    LshPlan(b, r, inf, capture)
  }

  /** EXACT strict-prefix dedup: rows whose text is a strict prefix of
    * some OTHER document's text (truncated re-crawls, cut-off
    * generations, partial mirrors — near-dups that shingle-based
    * methods only catch probabilistically).
    *
    * One sort, no self-join. Key fact: among the DISTINCT texts in
    * lexicographic order, x is a strict prefix of SOME text iff x is a
    * prefix of its immediate successor succ(x) — any z with
    * x < z < y (y = an x-prefixed text) must itself start with x
    * (z's first |x| chars can be neither < x nor > x without
    * contradicting x < z < y). So the whole corpus needs exactly one
    * successor pass.
    *
    * Scale shape, two routes behind `Relational.prefixSumRoutesLocal`
    * (the plan-stats size gate of `Relational.prefixSums`; no job):
    *  - at or under the gate (read on the non-empty rows, since they
    *    are what it moves), the rows are sorted by text in ONE
    *    partition (`coalesce(1)`, so no exchange) and one lazy narrow
    *    pass keeps each run of equal texts that prefixes the next
    *    distinct text: no distinct and no join back to the rows.
    *    Nothing runs before the action.
    *  - above it, a global sort would force the naive
    *    `Window.orderBy(text)` into one partition, so instead the
    *    distinct texts are range-partitioned + locally sorted and
    *    checkpointed, a narrow pass pairs each text with its
    *    in-partition successor, and the |partitions| boundary rows are repaired with a collected
    *    (bounded: one row per partition) first-text map broadcast back —
    *    the standard distributed-adjacency pattern.
    * `partitions` (default `spark.sql.shuffle.partitions`) sizes the
    * range partitioning of the distributed route. Returns the input
    * rows whose text is a strict prefix (on the distributed route a
    * semi-join on text), original schema preserved.
    */
  def prefixDups(df: DataFrame, textCol: Column, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // one filter for every use of `df` (a null or empty text is never a
    // prefix), so on the distributed route the optimizer pushes
    // identical predicates into both and a shared upstream exchange is
    // reused instead of run twice
    val nonEmpty = df.where(length(textCol) > 0)
    if (Relational.prefixSumRoutesLocal(nonEmpty)) localPrefixDups(nonEmpty, textCol)
    else rangePrefixDups(nonEmpty, textCol,
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Above-gate route of [[prefixDups]] over its non-empty rows, in `p`
    * range partitions.
    */
  private def rangePrefixDups(nonEmpty: DataFrame, textCol: Column, p: Int): DataFrame = {
    val spark = nonEmpty.sparkSession
    val texts = nonEmpty.select(textCol.as("_t"))
      .distinct()
      .repartitionByRange(p, col("_t"))
      .sortWithinPartitions(col("_t"))
      .transform(CacheRegistry.checkpoint(_)) // pin the partition layout the repair map keys on
    // Local-successor pairing in ONE narrow pass: the data is already
    // range-partitioned AND sorted, so a streaming mapPartitions pairs
    // each text with its in-partition successor. A `lead` window here
    // would re-shuffle on the partition id (the checkpoint erases the
    // partitioning info EnsureRequirements would need) and re-sort rows
    // that are already in order — measured as one extra full exchange
    // of every distinct text. Plan-shape pinned windowless instead.
    import spark.implicits._
    val local = texts.select(col("_t")).as[String].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      new Iterator[(Int, String, Option[String])] {
        private var cur: String = if (it.hasNext) it.next() else null
        def hasNext: Boolean = cur != null
        def next(): (Int, String, Option[String]) = {
          val nxt = if (it.hasNext) it.next() else null
          val out = (pid, cur, Option(nxt))
          cur = nxt
          out
        }
      }
    }.toDF("_pid", "_t", "_nxt")
    // per-partition first texts: ≤ p rows, driver-safe at any corpus size
    val firstByPid = local.groupBy(col("_pid")).agg(min(col("_t")).as("_first"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    // successor of partition i's LAST text = first text of the next
    // non-empty partition (range partitioning keeps global order)
    val repair = firstByPid.zipWithIndex.flatMap { case ((pid, _), i) =>
      firstByPid.drop(i + 1).headOption.map { case (_, nf) => (pid, nf) }
    }.toSeq
    val repairDf = spark.createDataFrame(
      spark.sparkContext.parallelize(repair.map(t => org.apache.spark.sql.Row(t._1, t._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_pid", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("_bnxt", org.apache.spark.sql.types.StringType))))
    val prefixes = local
      .join(broadcast(repairDf), Seq("_pid"), "left")
      // boundary repair applies exactly where the local lead ran out
      .withColumn("_succ", coalesce(col("_nxt"), col("_bnxt")))
      .where(col("_succ").isNotNull &&
        length(col("_t")) < length(col("_succ")) &&
        col("_succ").startsWith(col("_t")))
      .select(col("_t"))
    nonEmpty.join(prefixes, textCol === col("_t"), "left_semi")
  }

  /** Gate-scale route of [[prefixDups]]: the rows themselves, not their
    * distinct texts, are sorted by text in ONE partition (`coalesce(1)`,
    * no exchange), and one lazy narrow pass reads them a run of equal
    * texts at a time, keeping a run when the next distinct text starts
    * with it. No distinct, no join back to the rows.
    */
  private def localPrefixDups(nonEmpty: DataFrame, textCol: Column): DataFrame = {
    val keyed = nonEmpty.select(col("*"), textCol.as("_prefix_t"))
    val ti = keyed.schema.fieldIndex("_prefix_t")
    keyed.coalesce(1).sortWithinPartitions(col("_prefix_t"))
      .mapPartitions { rows =>
        new Iterator[List[org.apache.spark.sql.Row]] {
          private var ahead = if (rows.hasNext) rows.next() else null
          def hasNext: Boolean = ahead != null
          // one run of equal texts: kept iff the next (different) text
          // starts with it, so is longer — a strict prefix
          def next(): List[org.apache.spark.sql.Row] = {
            val t = ahead.getString(ti)
            val run = List.newBuilder[org.apache.spark.sql.Row]
            while (ahead != null && ahead.getString(ti) == t) {
              run += ahead
              ahead = if (rows.hasNext) rows.next() else null
            }
            if (ahead != null && ahead.getString(ti).startsWith(t)) run.result() else Nil
          }
        }.flatten
      }(org.apache.spark.sql.Encoders.row(keyed.schema))
      .drop("_prefix_t")
  }

  /** Cross-group shingle overlap matrix — corpus governance: which
    * sources copy from which? Per group the DISTINCT word-`n`-gram set
    * is computed once; group pairs sharing a shingle count their
    * overlap, normalized by the SMALLER set (containment, ppm) so a
    * small feed wholly lifted from a big one reads ≈ 10⁶ instead of
    * drowning in the denominator.
    *
    * Scale: the postings shuffle carries distinct (group, shingle)
    * rows — df-capped at `maxDf` groups per shingle, so the pair step
    * is bounded by Σ_shingle df² ≤ maxDf·|postings| (the minhash
    * banding discipline); the result is |groups|² at most. At corpus
    * scale hash the shingle to the house 32-bit md5 prefix first —
    * the strings never need to cross a shuffle twice.
    * Output: (src_a, src_b, shared, n_a, n_b, containment_ppm).
    */
  def sourceOverlap(df: DataFrame, groupCol: Column, textCol: Column,
      n: Int = 3, maxDf: Int = 1000): DataFrame = {
    require(n >= 1, s"sourceOverlap: n must be >= 1, got $n")
    require(maxDf >= 2, s"sourceOverlap: maxDf must be >= 2, got $maxDf")
    val postings = df
      .select(groupCol.as("_g"), explode(wordShingles(textCol, n)).as("_sh"))
      .distinct()
      .transform(CacheRegistry.checkpoint(_))
    val totals = postings.groupBy(col("_g")).agg(count(lit(1)).as("_tot"))
    val capped = postings.join(
      postings.groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
        .where(col("_df") >= 2 && col("_df") <= maxDf).select(col("_sh")),
      Seq("_sh"), "left_semi")
    capped.as("l").join(capped.as("r"),
        col("l._sh") === col("r._sh") && col("l._g") < col("r._g"))
      .groupBy(col("l._g").as("src_a"), col("r._g").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(totals.select(col("_g").as("src_a"), col("_tot").as("n_a")), Seq("src_a"))
      .join(totals.select(col("_g").as("src_b"), col("_tot").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        expr("shared * 1000000 div least(n_a, n_b)").as("containment_ppm"))
  }
}
