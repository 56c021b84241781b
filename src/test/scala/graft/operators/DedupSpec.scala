package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog in the park today"),
    (2L, "the quick brown fox jumps over the lazy dog in the park tonight"),
    (3L, "completely unrelated content about catalyst query optimization rules"),
    (4L, "the quick brown fox jumps over the lazy dog in the park today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("byFingerprint groups exact duplicates under the smallest id") {
    val out = Dedup.byFingerprint(docs, "doc_id", "text")
    val dupGroup = out.where(col("n_dups") === 2).collect()
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keep_id") == 1L)
    assert(out.count() == 3)
  }

  test("minhashPairs finds near and exact duplicates above the threshold") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0, must collide
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashPairs hot-bucket cap star-links the cluster instead of dropping it") {
    // 6 identical docs: every band's bucket holds all 6 ids, so the
    // SAME over-cap bucket recurs in every band — dropping it would
    // silently lose the whole exact-dup cluster. Star-linking keeps
    // connectivity: rep = min id, pairs (1,2)..(1,6).
    val clones = (1L to 6L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(clones, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == (2L to 6L).map(i => (1L, i)).toSet)
    // the cap is never silent: the audit frame marks those buckets capped
    val stats = Dedup.minhashBucketStats(clones, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, maxBucket = 5).collect()
    assert(stats.nonEmpty && stats.forall(r =>
      r.getAs[Long]("n_ids") == 6L && r.getAs[Boolean]("capped")))
    // maxBucket = 0 disables the cap entirely
    val uncapped = Dedup.minhashPairs(clones, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucket = 0)
    assert(uncapped.count() == 15L) // C(6,2) exact-dup pairs
  }

  test("hot-bucket star pairs still pass exact-Jaccard verification per-pair") {
    // a hot bucket of near-dups below threshold vs the rep must NOT
    // produce a pair: star candidates go through the same verify
    val mixed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different words entirely here now"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(mixed, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.9,
      maxBucket = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // clones 1,2,3,5 remain mutually reachable through pairs
    val ids = pairs.flatMap(p => Seq(p._1, p._2))
    assert(Set(1L, 2L, 3L, 5L).subsetOf(ids))
  }

  test("fuzzyJoin finds exactly the pairs within the edit-distance bound") {
    val a = Seq("kitten", "sitting", "flour", "completely-different").toDF("v")
    val b = Seq("mitten", "kitten", "flower", "flour").toDF("v")
    val out = Dedup.fuzzyJoin(a, b, "v", "v", maxEdit = 2)
      .select("left_val", "right_val", "edit_dist")
      .as[(String, String, Int)].collect().toSet
    assert(out == Set(
      ("kitten", "mitten", 1), ("kitten", "kitten", 0),
      ("flour", "flower", 2), ("flour", "flour", 0)))
  }

  test("fuzzyJoin keeps gram-poor short strings (fallback path) — equals the quadratic join") {
    // "ab" vs "cb" at q=2/maxEdit=1: one edit destroys the single
    // 2-gram on each side, so the prefix path alone can never pair
    // them; "a" and "b" are shorter than q and produce NO grams at
    // all. All must still surface, exactly as a brute-force join does.
    val a = Seq("ab", "a", "xy", "kitten", "aaaa").toDF("v")
    val b = Seq("cb", "b", "xz", "mitten", "aaab").toDF("v")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("left_val", "right_val", "edit_dist")
        .as[(String, String, Int)].collect().toSet
    val got = pairs(Dedup.fuzzyJoin(a, b, "v", "v", maxEdit = 1))
    val brute = pairs(
      a.select(col("v").as("left_val")).crossJoin(b.select(col("v").as("right_val")))
        .withColumn("edit_dist", levenshtein(col("left_val"), col("right_val")))
        .where(col("edit_dist") <= 1))
    assert(got == brute)
    assert(got.contains(("ab", "cb", 1)) && got.contains(("a", "b", 1)))
    // repetitive "aaaa" has a single distinct gram — also fallback territory
    assert(got.contains(("aaaa", "aaab", 1)))
    // maxEdit = 0 with len < q values: plain equality must still work
    val eq = pairs(Dedup.fuzzyJoin(Seq("a", "zz").toDF("v"), Seq("a", "b").toDF("v"),
      "v", "v", maxEdit = 0))
    assert(eq == Set(("a", "a", 0)))
  }

  test("dropNearDuplicates keeps exactly each cluster's min-id representative") {
    val out = Dedup.dropNearDuplicates(docs, "doc_id", "text", shingleSize = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // 1,2,4 cluster together (1 survives); 3 is its own cluster.
    assert(out == Set(1L, 3L))
  }

  test("simhashPairs blocks correctly for the requested hamming radius") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical text -> hamming 0
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64))
  }

  test("ngramJaccardPairs verifies with exact jaccard") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.5, maxDocFreq = 10)
    val m = out.collect().map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(m((1L, 4L)) == 1.0)
    assert(m.contains((1L, 2L)) && m((1L, 2L)) >= 0.5 && m((1L, 2L)) < 1.0)
  }

  test("minhashPairs rejects numHashes not divisible by bands") {
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "doc_id", "text", numHashes = 63, bands = 16))
  }

  test("embeddingCosinePairs finds identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("id", "v")
    val pairs = Dedup.embeddingCosinePairs(vecs, "id", "v", threshold = 0.99, bits = 2, tables = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("connectedComponents labels every node with its component minimum") {
    val nodes = (1L to 8L).toDF("id")
    // components: {1,2,3} (chain), {4,5}, {6}, {7,8}
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (8L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, "id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L, 8L -> 7L))
  }

  test("rollingHash is order-sensitive, fingerprint is whitespace-insensitive") {
    val df = Seq(("a b", 1), ("b a", 2), ("a  b", 3)).toDF("text", "id")
    val hashes = df.select(TextFunctions.rollingHash(col("text"))).as[Long].collect()
    assert(hashes(0) != hashes(1))
    assert(hashes(0) == hashes(2)) // normalized whitespace
    val fps = df.select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("duplicateSpanFraction: full copy of an earlier doc scores 1.0, first doc 0.0") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),        // verbatim copy of 1
      (3L, "totally fresh words appear here now"), // no overlap
      (4L, "totally fresh words but then diverges completely afterwards")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanFraction(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 == 0.0)          // first owner of all its grams
    assert(out(2L)._3 == 1.0)          // every gram seen in doc 1
    assert(out(3L)._3 == 0.0)
    assert(out(4L)._1 == 6L && out(4L)._2 == 1L) // shares only "totally fresh words"
    assert(out(4L)._3 == math.BigDecimal(1.0 / 6.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("removeDuplicateSpans: later copy is cut, owner keeps it, short docs pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      // doc 2 embeds doc 1's opening 5-gram inside fresh text
      (2L, "start here the quick brown fox jumps and then continues onward"),
      (3L, "tiny doc"),                        // < n tokens: no grams, untouched
      (4L, "the quick brown fox jumps over the lazy dog")  // full verbatim copy
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    // owner keeps everything
    assert(out(1L) == ((9, 0L, "the quick brown fox jumps over the lazy dog")))
    // doc 2: the one duplicated 5-gram covers tokens 2..6 (0-based)
    assert(out(2L) == ((11, 5L, "start here and then continues onward")))
    assert(out(3L) == ((2, 0L, "tiny doc")))
    // full copy: every token covered by some duplicated 5-gram
    assert(out(4L) == ((9, 9L, "")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("removeDuplicateSpans: within-doc repeats survive; overlap merges coverage") {
    val docs = Seq(
      // the same 5 words twice INSIDE one doc: owner is the doc itself
      (1L, "p q r s t p q r s t"),
      // overlapping duplicated grams: tokens removed once, not twice
      (2L, "x a b c d e f y"),
      (3L, "x a b c d e f z")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._2 == 0L)
    assert(out(2L)._2 == 0L)                    // first owner of its grams
    // doc 3 shares "x a b c d", "a b c d e", "b c d e f" with doc 2 —
    // coverage is their union, tokens 0..6 once each
    assert(out(3L) == ((8, 7L, "z")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("containmentPairs is asymmetric: the quoted short doc scores 1.0 one way only") {
    val docs = Seq(
      (1L, "alpha beta gamma"),                                     // fully inside 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "unrelated content stands alone")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", shingleSize = 2, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)   // |A∩B|/|A| with A the 2-gram set of doc 1
    assert(out((2L, 1L)) == 0.25)  // 2 shared of doc 2's 8 bigrams
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("dropAgainstIndex removes exact and near copies of the standing corpus, keeps fresh docs") {
    val standing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different standing document with its own words")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),         // exact copy -> drop
      (11L, "the quick brown fox jumps over the lazy dogs"),        // near copy -> drop (bands)
      (12L, "entirely novel content nothing like the corpus at all") // fresh -> keep
    ).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(standing, "doc_id", "text", 2, 64, 16)
    val kept = Dedup.dropAgainstIndex(incoming, index, "doc_id", "text", 2, 64, 16)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("dropAgainstIndex never conflates wordless docs; identical wordless text still drops") {
    val standing = Seq((1L, "!!!"), (2L, "real standing words here")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "???"),   // wordless, UNRELATED to standing "!!!" -> keep
      (11L, "!!!"),   // byte-identical wordless text -> fingerprint drop
      (12L, "")       // empty, unrelated -> keep
    ).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(standing, "doc_id", "text", 2, 64, 16)
    val kept = Dedup.dropAgainstIndex(incoming, index, "doc_id", "text", 2, 64, 16)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("semanticDedup drops within-cluster cosine near-dups, keeps the min id") {
    // two tight planted clusters + one far-off singleton; any k-means
    // cut keeps each tight pair inside one cell, so both non-min ids
    // drop and the singleton survives
    val vecs = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.02f, 0.0f)),   // near-dup of 1 -> dropped
      (3L, Array(0.0f, 1.0f, 0.01f)),
      (4L, Array(0.0f, 1.0f, 0.02f)),   // near-dup of 3 -> dropped
      (5L, Array(0.0f, 0.0f, -1.0f))
    ).toDF("id", "v")
    val pairs = Dedup.semanticPairs(vecs, "id", "v", threshold = 0.99, nlist = 3, trainSample = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    val kept = Dedup.semanticDedup(vecs, "id", "v", threshold = 0.99, nlist = 3, trainSample = 5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("semanticDedupViaKnnGraph: kNN-candidate path matches the cell path; candidate verify dedups") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.02f, 0.0f)),   // near-dup of 1 -> dropped
      (3L, Array(0.0f, 1.0f, 0.01f)),
      (4L, Array(0.0f, 1.0f, 0.02f)),   // near-dup of 3 -> dropped
      (5L, Array(0.0f, 0.0f, -1.0f))
    ).toDF("id", "v")
    // nprobe = nlist probes every cell, k >= n-1 keeps every neighbor:
    // the ANN-composed path must reproduce the exact survivor set
    val kept = Dedup.semanticDedupViaKnnGraph(
      vecs, "id", "v", threshold = 0.99, k = 4, nlist = 2, nprobe = 2)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    // verification normalizes candidates: both directions and repeats
    // of the same pair collapse to ONE ordered verified row
    val cands = Seq((2L, 1L), (1L, 2L), (1L, 2L), (3L, 4L), (5L, 5L))
      .toDF("query_id", "neighbor_id")
    val verified = Dedup.semanticPairsFromCandidates(vecs, "id", "v", cands, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(verified.sorted == Seq((1L, 2L), (3L, 4L)))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("dropDuplicateParagraphs keeps first owners and reassembles in order") {
    val paras = Seq(
      (1L, 0L, "alpha"), (1L, 1L, "beta"), (1L, 2L, "alpha"),   // in-doc repeat drops
      (2L, 0L, "beta"), (2L, 1L, "gamma"),                      // beta owned by doc 1
      (3L, 0L, "alpha"), (3L, 1L, "beta")                       // fully owned elsewhere
    ).toDF("doc_id", "pos", "para")
    val out = Dedup.dropDuplicateParagraphs(paras, "doc_id", "pos", "para", sep = "\n\n")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((2L, "alpha\n\nbeta")))
    assert(out(2L) == ((1L, "gamma")))
    assert(!out.contains(3L)) // every paragraph owned elsewhere -> doc drops out
  }

  test("dropBoilerplateParagraphs kills cross-doc repeats everywhere, keeps in-doc repeats") {
    val paras = Seq(
      (1L, 0L, "cookie banner"), (1L, 1L, "unique alpha"), (1L, 2L, "unique alpha"),
      (2L, 0L, "cookie banner"), (2L, 1L, "unique beta"),
      (3L, 0L, "cookie banner")                      // nothing but boilerplate
    ).toDF("doc_id", "pos", "para")
    val out = Dedup.dropBoilerplateParagraphs(paras, "doc_id", "pos", "para", minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // banner df=3 -> gone from every doc; doc 1's in-doc repeat has
    // df=1 (distinct docs!) so BOTH copies stay
    assert(out(1L) == ((2L, "unique alpha\n\nunique alpha")))
    assert(out(2L) == ((1L, "unique beta")))
    assert(!out.contains(3L))
  }

  test("wordless docs are excluded from span-dup and containment, not conflated via the \"\" fallback gram") {
    val docs = Seq(
      (1L, "real words in this document"),
      (2L, "!!!"), (3L, "???"), (4L, "")
    ).toDF("doc_id", "text")
    val span = Dedup.duplicateSpanFraction(docs, "doc_id", "text", 2)
      .select("id").as[Long].collect().toSet
    assert(span == Set(1L)) // wordless docs absent, not "100% duplicated"
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.1).collect()
    assert(cont.isEmpty) // no bogus mutual-containment among empty docs
  }

  test("prefixDups flags strict prefixes only, across partition boundaries") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),     // strict prefix of 1
      (3L, "alpha"),          // strict prefix of 2 (and 1)
      (4L, "alphabet"),       // NOT a prefix of anything ("alphabet" vs "alpha beta")
      (5L, "zulu"),
      (6L, "zulu"),           // exact duplicate, NOT a strict prefix
      (7L, "delta"),
      (8L, ""),               // empty: excluded by contract
      (9L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // partitions > distinct texts: forces empty range partitions, so the
    // boundary-repair path (next NON-EMPTY partition's first) is exercised
    // — on the distributed route, which this small corpus would not take
    // unforced; the one-partition route must give the same answer
    for (local <- Seq(false, true); p <- Seq(1, 4, 16)) {
      val got = Relational.withLocalRoute(local)(
          Dedup.prefixDups(corpus, col("text"), partitions = p))
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(2L, 3L), s"local=$local partitions=$p")
    }
  }

  test("prefixDups: chain where every text prefixes the next, last one clean") {
    val chain = (1 to 6).map(i => (i.toLong, "x" * i)).toDF("doc_id", "text")
    val got = Dedup.prefixDups(chain, col("text"), partitions = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(got == (1L to 5L).toSet)
  }

  test("lshPlan picks the divisor split nearest the target S-curve inflection") {
    // 128 hashes, target 0.8: inflections are 0.707 (16x8) and 0.878 (8x16);
    // 0.878 is nearer
    val p = Dedup.lshPlan(128, 0.8)
    assert(p.bands == 8 && p.rows == 16)
    assert(math.abs(p.inflection - math.pow(1.0 / 8, 1.0 / 16)) < 1e-12)
    val expectedCapture = 1.0 - math.pow(1.0 - math.pow(0.8, 16), 8)
    assert(math.abs(p.captureAtTarget - expectedCapture) < 1e-12)
    // a low threshold prefers many bands (few rows per band)
    val lo = Dedup.lshPlan(128, 0.2)
    assert(lo.bands > p.bands)
    intercept[IllegalArgumentException](Dedup.lshPlan(1, 0.5))
    intercept[IllegalArgumentException](Dedup.lshPlan(128, 1.0))
  }

  test("editDistanceLink: blocked pairs within maxDist, block summary exact") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "alpha"), (1L, 11L, "alphb"), (1L, 12L, "zzzzz"),
      (2L, 20L, "beta"), (2L, 21L, "beta"),
      (3L, 30L, "solo")
    ).toDF("blk", "id", "s")
    val out = Dedup.editDistanceLink(df, col("blk"), col("id"), col("s"), maxDist = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // block 1: only (alpha, alphb) at distance 1; zzzzz is out of range
    // block 2: exact duplicates at distance 0; block 3: no pairs
    assert(out == Map(1L -> ((1L, 1L, 1L)), 2L -> ((1L, 0L, 0L))))
    // cross-block pairs are never compared even if identical
    val cross = Seq((1L, 1L, "same"), (2L, 2L, "same")).toDF("blk", "id", "s")
    assert(Dedup.editDistanceLink(cross, col("blk"), col("id"), col("s"), 2)
      .count() == 0L)
  }

  test("jaccardSweep: monotone non-increasing counts across thresholds") {
    val a = "one two three four five six seven eight"
    val near = "one two three four five six seven nine" // high jaccard
    val far = "one two alpha beta gamma delta" // shares a little
    val df = Seq((1L, a), (2L, near), (3L, far)).toDF("doc_id", "text")
    val out = Dedup.jaccardSweep(df, "doc_id", "text", shingleSize = 2,
        thresholdsPpm = Seq(100000L, 500000L, 900000L), maxDocFreq = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(100000L) >= out(500000L) && out(500000L) >= out(900000L))
    assert(out(100000L) >= 1L) // the near pair survives a low bar
    assert(out(900000L) == 0L) // nothing is 90% similar here
  }

  test("sourceOverlap: containment by the smaller set; unshared sources absent") {
    // A and B share the full 4-trigram set; C shares nothing -> one pair
    val a = "one two three four five six"
    val df = Seq(("A", a), ("B", a), ("C", "alpha beta gamma delta"))
      .toDF("src", "text")
    val rows = Dedup.sourceOverlap(df, col("src"), col("text"), n = 3, maxDf = 10)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((4L, 4L, 4L, 1000000L)))
    // a shingle present in EVERY source above maxDf is dropped: with
    // maxDf = 2 and three sources sharing one trigram, no pair forms
    val univ = Seq(("A", "x y z"), ("B", "x y z"), ("C", "x y z")).toDF("src", "text")
    assert(Dedup.sourceOverlap(univ, col("src"), col("text"), 3, maxDf = 2)
      .count() == 0L)
  }
}
