package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  /** `f` with every size-gated route forced local (the pickers on the
    * driver) or distributed.
    */
  private def onRoute[A](local: Boolean)(f: => A): A =
    Relational.withLocalRoute(local)(f)

  test("hashSample is deterministic and close to the requested fraction") {
    val df = spark.range(10000).toDF("id")
    val s1 = TrainingData.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().toSet
    val s2 = TrainingData.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().toSet
    assert(s1 == s2) // same seed, same sample — retry-proof
    assert(math.abs(s1.size / 10000.0 - 0.3) < 0.02)
    // monotone in fraction: a smaller sample is a SUBSET of a larger one
    val s3 = TrainingData.hashSample(df, col("id"), 0.1).select("id").as[Long].collect().toSet
    assert(s3.subsetOf(s1))
    // different seed, different sample
    val s4 = TrainingData.hashSample(df, col("id"), 0.3, seed = "other").select("id").as[Long].collect().toSet
    assert(s4 != s1)
  }

  test("stratifiedSample applies per-stratum fractions") {
    val df = spark.range(6000)
      .select(col("id"), (col("id") % 3).cast("string").as("stratum"))
    val out = TrainingData.stratifiedSample(
      df, col("stratum"), col("id"), Map("0" -> 0.5, "1" -> 0.1), defaultFraction = 1.0)
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(math.abs(out("0") / 2000.0 - 0.5) < 0.06)
    assert(math.abs(out("1") / 2000.0 - 0.1) < 0.04)
    assert(out("2") == 2000L) // default keeps everything
  }

  test("mixtureSample flattens skewed domains and keeps the rarest fully") {
    // 4000 'big', 1000 'mid', 250 'small' rows
    val df = spark.range(5250).select(col("id"),
      when(col("id") < 4000, "big").when(col("id") < 5000, "mid").otherwise("small")
        .as("dom"))
    val out = TrainingData.mixtureSample(df, col("dom"), col("id"), temperature = 0.5)
    val kept = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(kept("small") == 250L) // rarest domain: fraction 1, keep ALL
    // expected fractions: sqrt(250/4000)=0.25, sqrt(250/1000)=0.5
    assert(math.abs(kept("big") / 4000.0 - 0.25) < 0.03)
    assert(math.abs(kept("mid") / 1000.0 - 0.5) < 0.05)
    // deterministic: same call, same sample
    val again = TrainingData.mixtureSample(df, col("dom"), col("id"), temperature = 0.5)
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
    // temperature 1 keeps the natural distribution (everything)
    assert(TrainingData.mixtureSample(df, col("dom"), col("id"), temperature = 1.0)
      .count() == 5250L)
  }

  test("sampler cardinality caps fail fast on unbounded stratum columns") {
    // stratifiedSample: an over-cap fractions map is rejected before a
    // maxStrata-deep when-chain reaches the optimizer
    val big = (0 to TrainingData.maxStrata).map(i => s"s$i" -> 0.5).toMap
    val df = spark.range(10).select(col("id"), lit("x").as("dom"))
    val e1 = intercept[IllegalArgumentException](
      TrainingData.stratifiedSample(df, col("dom"), col("id"), big))
    assert(e1.getMessage.contains("maxStrata"))
    // mixtureSample: a unique-per-row "domain" (an id) must fail fast,
    // not collect the whole column to the driver — the limit bounds
    // driver rows at cap+1 regardless of input size
    val unbounded = spark.range(TrainingData.maxStrata.toLong + 100)
      .select(col("id"), col("id").cast("string").as("dom"))
    val e2 = intercept[IllegalArgumentException](
      TrainingData.mixtureSample(unbounded, col("dom"), col("id")))
    assert(e2.getMessage.contains("distinct domains"))
  }

  test("madOutliers flags robust outliers and handles constant groups") {
    val df = (Seq.tabulate(21)(i => ("a", i.toLong, 10.0 + (i % 5))) ++  // tight band
      Seq(("a", 100L, 500.0)) ++                                          // wild outlier
      Seq.tabulate(5)(i => ("c", 200L + i, 7.0))                          // constant group
      ).toDF("g", "id", "v")
    val out = TrainingData.madOutliers(df, Seq(col("g")), col("v"))
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(out(100L))                                  // 500 vs median ~12
    assert(Seq.tabulate(21)(_.toLong).forall(i => !out(i)))
    assert((200L to 204L).forall(i => !out(i)))        // mad=0, all AT the median
    // the robust score is immune to the outlier's own pull: a
    // mean/stddev z-score with one 500 in 22 points would mask it far
    // more than the median does — here med stays ~12
    val med = TrainingData.madOutliers(df, Seq(col("g")), col("v"))
      .where(col("g") === "a").select("med").head().getDouble(0)
    assert(med >= 10.0 && med <= 14.0)
  }

  test("qualityFilter trips each Gopher rule independently") {
    val good = "the quick brown fox and the lazy dog ran to town in a big hurry " * 4 // 64 words
    val docs = Seq(
      (1L, good),                                    // passes everything
      (2L, "too short"),                             // words_ok fails
      (3L, ("a " * 64).trim),                        // word_len_ok fails (mean 1.0)
      (4L, good + " " + "$$$ ### @@@ !!! %%% ^^^ &&& *** ((( )))" * 3), // symbol_ok fails
      (5L, ("12345 67890 24680 13579 11111 22222 " * 11).trim) // alpha_ok fails (all digits)
    ).toDF("doc_id", "text")
    val out = TrainingData.qualityFilter(docs, "doc_id", "text", minWords = 20)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("words_ok"), r.getAs[Boolean]("word_len_ok"),
          r.getAs[Boolean]("symbol_ok"), r.getAs[Boolean]("alpha_ok"),
          r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(!out(2L)._1 && !out(2L)._5)
    assert(out(3L)._1 && !out(3L)._2 && !out(3L)._5)
    assert(!out(4L)._3 && !out(4L)._5)
    assert(out(5L)._1 && !out(5L)._4 && !out(5L)._5)
  }

  test("capPerGroup keeps at most k rows per group, smallest order first") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("g", "v")
    val out = TrainingData.capPerGroup(df, Seq(col("g")), Seq(col("v")), 2)
      .select("g", "v").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 1), ("a", 2), ("b", 9)))
  }

  test("chunkWords covers every token; final chunk may be partial") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = TrainingData.chunkWords(df, Seq("doc_id"), "text", 64, 32)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk", "n_tokens")
      .as[(Long, String, Long)].collect()
    assert(chunks.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(chunks.map(_._3).toSeq == Seq(64L, 64L, 36L)) // tail covered, partial
    assert(chunks(0)._2.startsWith("w1 ") && chunks(2)._2.endsWith(" w100"))
    // a short doc yields exactly one (partial) chunk
    val short = TrainingData.chunkWords(
      Seq((2L, "a b c")).toDF("doc_id", "text"), Seq("doc_id"), "text", 64, 32)
      .select("chunk", "n_tokens").as[(String, Long)].collect()
    assert(short.toSeq == Seq(("a b c", 3L)))
  }

  test("chunkTokens: token windows split mid-word, concatenated chunks round-trip, tail partial") {
    // merges = [(a,a)]: "aa" -> [aa, </w>] (2 tokens), "ab" -> [a, b,
    // </w>] (3), "b" -> [b, </w>] (2); "aa ab aa b" = 9 tokens total
    val merges = Seq(("a", "a"))
    val df = Seq((1L, "aa ab aa b")).toDF("doc_id", "text")
    val chunks = TrainingData.chunkTokens(df, Seq("doc_id"), "text", merges, 4, 4)
      .orderBy("chunk_id").select("chunk_id", "chunk", "n_tokens")
      .as[(Long, String, Long)].collect().toSeq
    // window 4 over 9 tokens: 4 + 4 + 1, boundary falls INSIDE "ab"
    assert(chunks.map(_._3) == Seq(4L, 4L, 1L))
    assert(chunks.map(_._2) == Seq("aa ab", " aa b", " "))
    // the roundtrip law the gate pins: chunks concatenated in order
    // (no separator) and trimmed rebuild the exact word stream
    assert(chunks.map(_._2).mkString("").trim == "aa ab aa b")
    // a doc shorter than the window yields one partial chunk
    val short = TrainingData.chunkTokens(
      Seq((2L, "aa")).toDF("doc_id", "text"), Seq("doc_id"), "text", merges, 4, 4)
      .select("chunk", "n_tokens").as[(String, Long)].collect().toSeq
    assert(short == Seq(("aa ", 2L)))
    // an empty doc still emits its single empty chunk (coverage law)
    val empty = TrainingData.chunkTokens(
      Seq((3L, "")).toDF("doc_id", "text"), Seq("doc_id"), "text", merges, 4, 4)
      .select("chunk", "n_tokens").as[(String, Long)].collect().toSeq
    assert(empty == Seq(("", 0L)))
  }

  test("repetitionStats measures top-gram and distinct-gram fractions") {
    // 2-grams of "a a a a b": [a a, a a, a a, a b] — top 3/4, distinct 2/4
    val df = Seq((1L, "a a a a b")).toDF("doc_id", "text")
    val out = TrainingData.repetitionStats(df, "doc_id", "text", 2)
      .select("n_grams", "top_frac", "distinct_frac")
      .as[(Long, Double, Double)].collect().head
    assert(out == ((4L, 0.75, 0.5)))
  }

  test("redactPii scrubs emails and phones, leaves clean text alone") {
    val df = Seq(
      "reach me at john.doe+x@corp.example.org today",
      "call 555-123-4567 now",
      "nothing sensitive here").toDF("t")
    val out = df.select(TrainingData.redactPii(col("t")).as("r")).as[String].collect()
    assert(out(0) == "reach me at <EMAIL> today")
    assert(out(1) == "call <PHONE> now")
    assert(out(2) == "nothing sensitive here")
  }

  test("packSequences lays docs end-to-end and chops at the token budget") {
    val df = Seq(
      ("s1", 1L, 600), ("s1", 2L, 600), ("s1", 3L, 600), ("s1", 4L, 600),
      ("s2", 5L, 100)).toDF("src", "id", "n")
    val out = TrainingData.packSequences(
      df, Seq(col("src")), Seq(col("id")), col("n"), 1000L)
      .select("id", "seq_index", "seq_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // offsets 0/600/1200/1800 on the s1 tape; s2 restarts its own tape
    assert(out == Seq((1L, 0L, 0L), (2L, 0L, 600L), (3L, 1L, 200L), (4L, 1L, 800L), (5L, 0L, 0L)))
  }

  test("packSequencesByTokens counts BPE tokens under real merges, then packs the tape") {
    // merges = [(a,a)]: "aa ab" = 2 + 3 = 5 tokens, "aa b" = 2 + 2 = 4
    val merges = Seq(("a", "a"))
    val df = Seq(("s", 1L, "aa ab"), ("s", 2L, "aa b")).toDF("src", "id", "text")
    val out = TrainingData.packSequencesByTokens(
      df, Seq(col("src")), Seq(col("id")), "text", merges, 6L)
      .select("id", "n_tokens", "seq_index", "seq_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // tape: doc1 at [0,5), doc2 starts at 5 -> seq 0 offset 5
    assert(out == Seq((1L, 5L, 0L, 0L), (2L, 4L, 0L, 5L)))
    // zero merges degrade to the closed form the q_pack_tokens oracle
    // uses: one token per code point plus the </w> terminal
    val zero = TrainingData.packSequencesByTokens(
      df, Seq(col("src")), Seq(col("id")), "text", Nil, 2048L)
      .select("id", "n_tokens").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(zero == Seq((1L, 6L), (2L, 5L))) // "aa ab": (2+1)+(2+1); "aa b": 3+2
  }

  test("contaminationCheck flags train docs sharing n-grams with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contaminated
      (2L, "completely unrelated words live here peacefully")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "quick brown fox jumps over a fence")).toDF("doc_id", "text")
    val out = TrainingData.contaminationCheck(train, bench, "doc_id", "text", n = 3, minShared = 2)
      .select("train_id", "bench_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSeq
    // shared 3-grams: "quick brown fox", "brown fox jumps", "fox jumps over"
    assert(out == Seq((1L, 100L, 3L)))
  }

  test("noveltyScore: fraction of probe n-grams unseen in the corpus, exact counts") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words live here peacefully")).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "quick brown fox jumps over a fence"), // 5 grams, 3 seen
      (101L, "the quick brown fox jumps"),          // 3 grams, all seen
      (102L, "nothing in common whatsoever today"), // 3 grams, none seen
      (103L, "tiny doc")                            // < n words: whole-text gram
    ).toDF("doc_id", "text")
    val out = TrainingData.noveltyScore(corpus, probe, "doc_id", "text", n = 3)
      .select("probe_id", "n_grams", "n_unseen", "novelty")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(100L) == ((5L, 2L, 0.4d))) // "jumps over a", "over a fence" are new
    assert(out(101L) == ((3L, 0L, 0.0d)))
    assert(out(102L) == ((3L, 3L, 1.0d)))
    assert(out(103L) == ((1L, 1L, 1.0d)))
  }

  test("winsorize clamps to the group's percentile bounds and leaves interior values alone") {
    val df = (1 to 100).map(i => ("a", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val out = TrainingData.winsorize(df, Seq("g"), col("v"), 0.10, 0.90)
      .select("id", "value_clipped").as[(Long, Double)].collect().toMap
    // exact percentile of 1..100 at p10/p90 interpolates to ~10.9 / ~90.1
    // (compare with tolerance: the interpolation fraction 0.9*99-89
    // carries float error, so the bound is 90.10000000000001)
    assert(math.abs(out(1L) - 10.9) < 1e-9 && out(1L) == out(5L))
    assert(math.abs(out(100L) - 90.1) < 1e-9 && out(100L) == out(95L))
    assert(out(50L) == 50.0) // interior untouched
    // approx sketch path: same shape, bounds within the value domain
    val approx = TrainingData.winsorize(df, Seq("g"), col("v"), 0.10, 0.90, exact = false)
      .select("value_clipped").as[Double].collect()
    assert(approx.forall(v => v >= 1.0 && v <= 100.0))
    assert(approx.min >= 9.0 && approx.max <= 92.0)
  }

  test("winsorize never invents data: null values stay null, not the low bound") {
    val df = ((1 to 20).map(i => ("a", i.toLong, Some(i.toDouble))) :+ ("a", 99L, None))
      .toDF("g", "id", "v")
    val out = TrainingData.winsorize(df, Seq("g"), col("v"), 0.10, 0.90)
      .select("id", "value_clipped").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(99L).isEmpty) // least/greatest skip nulls - must not leak _lo
    assert(out(10L).contains(10.0))
  }

  test("leakageSafeSplit keeps near-duplicates in one split and is deterministic") {
    val base = "the quick brown fox jumps over the lazy sleeping dog today"
    val docs = ((1 to 40).map(i => (i.toLong, s"unique document number $i about topic ${i * 7} entirely"))
      :+ (100L, base) :+ (101L, base + " extra")).toDF("doc_id", "text")
    val out = TrainingData.leakageSafeSplit(
      docs, "doc_id", "text", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      shingleSize = 2, threshold = 0.3, maxDocFreq = 100)
      .select("doc_id", "component", "split")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size == 42)
    // the planted near-dup pair shares a component, hence a split
    assert(out(100L)._1 == out(101L)._1 && out(100L)._1 == 100L)
    assert(out(100L)._2 == out(101L)._2)
    assert(out.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic rerun
    val again = TrainingData.leakageSafeSplit(
      docs, "doc_id", "text", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      shingleSize = 2, threshold = 0.3, maxDocFreq = 100)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out.map { case (k, v) => k -> v._2 })
    graft.core.CacheRegistry.unpersistAll()
  }

  test("budgetSelect keeps the exact greedy prefix of the global order") {
    // 200 docs, token counts 1..200, priority = descending id. Greedy
    // prefix from id=200 down: kept while inclusive cumsum <= budget.
    val docs = (1L to 200L).map(i => (i, i)).toDF("id", "toks")
    val budget = 3000L
    val out = TrainingData.budgetSelect(
      docs, Seq(col("id").desc), col("toks"), budget)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(-_._1).toSeq
    // expected: 200+199+... while <= 3000 -> 200..186 (sum 2895; adding
    // 185 -> 3080 > budget, and NOTHING later backfills: greedy prefix,
    // not knapsack)
    val expected = (200L to 1L by -1L)
      .scanLeft((0L, 0L)) { case ((_, cum), id) => (id, cum + id) }
      .tail.takeWhile(_._2 <= budget)
    assert(out == expected)
    assert(out.last._1 == 186L && out.last._2 == 2895L)
    // boundary doc 185 is dropped even though doc 1 alone would fit
    assert(!out.exists(_._1 == 185L) && !out.exists(_._1 == 1L))
    // budget 0 selects nothing; full budget selects everything
    assert(TrainingData.budgetSelect(docs, Seq(col("id")), col("toks"), 0L).count() == 0)
    assert(TrainingData.budgetSelect(docs, Seq(col("id")), col("toks"), 1000000L).count() == 200)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("deterministicShuffle is a stable permutation, keyed by seed") {
    val df = (1L to 50L).toDF("id")
    val run1 = TrainingData.deterministicShuffle(df, col("id"))
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val run2 = TrainingData.deterministicShuffle(df, col("id"))
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run1 == run2) // retry-stable
    assert(run1.map(_._2).sorted == (1L to 50L)) // a real permutation
    assert(run1.map(_._2) != (1L to 50L)) // and actually shuffled
    val reseeded = TrainingData.deterministicShuffle(df, col("id"), seed = "other")
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(reseeded.map(_._2) != run1.map(_._2)) // seed changes the order
  }

  test("weightedSample is deterministic, weight-biased, and equals its brute-force rank") {
    val df = (1L to 400L).map(id => (id, if (id <= 200) 1L else 100L))
      .toDF("id", "w").withColumn("grp", lit("g"))
    val got = TrainingData.weightedSample(df, col("id"), col("w"), k = 50,
      groupCols = Seq(col("grp")))
      .select("id").as[Long].collect().toSet
    // brute-force the same ranks driver-side
    def u32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val expect = (1L to 400L).map(id => (u32(id) / (if (id <= 200) 1L else 100L), id))
      .sorted.take(50).map(_._2).toSet
    assert(got == expect)
    // heavy rows (w=100) should dominate the sample
    assert(got.count(_ > 200) > 40)
    // retry-stable and identical for the global (ungrouped) path
    val global = TrainingData.weightedSample(df, col("id"), col("w"), k = 50)
      .select("id").as[Long].collect().toSet
    assert(global == expect)
    // non-positive weights are dropped, never sampled
    val withZero = df.withColumn("w", when(col("id") === 1L, 0L).otherwise(col("w")))
    assert(!TrainingData.weightedSample(withZero, col("id"), col("w"), k = 400)
      .select("id").as[Long].collect().contains(1L))
  }

  test("lmScore: add-one bigram probabilities in fixed point, hand-checked") {
    // corpus: "a b" x3, "a c" — c1(a)=4, c2(a b)=3, c2(a c)=1, V=3
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("id", "text")
    val probe = Seq(
      (10L, "a b"),      // p = (3+1)*1e6 div (4+3) = 571428
      (11L, "a z"),      // unseen bigram, seen context: (0+1)*1e6 div 7 = 142857
      (12L, "z q"),      // unseen context: (0+1)*1e6 div (0+3) = 333333
      (13L, "solo"))     // < 2 words: excluded
      .toDF("id", "text")
    val out = TrainingData.lmScore(corpus, probe, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L))
    assert(out(10L) == ((1L, 571428L, 571428.0 / 1000000.0)))
    assert(out(11L) == ((1L, 142857L, 142857.0 / 1000000.0)))
    assert(out(12L) == ((1L, 333333L, 333333.0 / 1000000.0)))
    // a two-bigram doc sums exactly
    val two = TrainingData.lmScore(corpus, Seq((20L, "a b c")).toDF("id", "text"),
      "id", "text").head()
    // bigrams: "a b" -> 571428, "b c": c2=0, c1(b)=0 -> 333333
    assert(two.getLong(1) == 2L && two.getLong(2) == 571428L + 333333L)
  }

  test("dsirWeights: fixed-point likelihood ratios, hand-checked") {
    // raw: doc1 "aa aa", doc2 "bb bb"; target: "aa aa aa".
    // Features (1+2-grams, no bucket collisions — verified offline):
    //   cr: aa=2, 'aa aa'=1, bb=2, 'bb bb'=1; TR=6
    //   ct: aa=3, 'aa aa'=2;                  TT=5
    // r = ((ct+1)*(TR+B)*1000) div ((cr+1)*(TT+B)), B=65536:
    //   r(aa)=1333, r(aa aa)=1500, r(bb)=333, r(bb bb)=500
    val raw = Seq((1L, "aa aa"), (2L, "bb bb")).toDF("doc_id", "text")
    val tgt = Seq((100L, "aa aa aa")).toDF("doc_id", "text")
    val out = TrainingData.dsirWeights(raw, tgt, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 2 * 1333L + 1500L, 4166.0 / 3000.0)))
    assert(out(2L) == ((3L, 2 * 333L + 500L, 1166.0 / 3000.0)))
    // the target-like doc scores strictly higher — the selection property
    assert(out(1L)._3 > out(2L)._3)
    // unigrams only: bigram features vanish, n_feats drops to 2
    val uni = TrainingData.dsirWeights(raw, tgt, "doc_id", "text", ngrams = Seq(1))
      .where(col("doc_id") === 1L).head()
    assert(uni.getLong(1) == 2L)
  }

  test("featureScale: exact minmax ppm, z-score, degenerate groups null") {
    val df = Seq(
      (1L, "g", 0L), (2L, "g", 50L), (3L, "g", 100L), // spread group
      (4L, "c", 7L), (5L, "c", 7L),                    // constant group
      (6L, "one", 3L)                                  // singleton
    ).toDF("id", "grp", "v")
    val out = TrainingData.featureScale(df, Seq(col("id")), col("grp"), col("v"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(1L)._1 == Some(0L) && out(2L)._1 == Some(500000L) &&
      out(3L)._1 == Some(1000000L))
    // z for 0,50,100: mean 50, sample std 50 -> z = -1, 0, 1
    assert(out(1L)._2 == Some(-1.0) && out(2L)._2 == Some(0.0) &&
      out(3L)._2 == Some(1.0))
    assert(out(4L) == ((None, None)) && out(5L) == ((None, None)))
    assert(out(6L) == ((None, None)))
  }

  test("kfoldAssign/kfoldAudit: total partition, stable, stratum shares sum to 1M") {
    val df = (1L to 500L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val folds = TrainingData.kfoldAssign(df, col("id"), k = 5)
    // every row gets exactly one fold in [0,5); assignment is a pure
    // function of id (re-running yields identical folds)
    val counts = folds.groupBy(col("fold")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf((0L until 5L).toSet))
    assert(counts.values.sum == 500L)
    assert(counts.values.forall(n => n > 50L && n < 150L)) // roughly balanced
    val again = TrainingData.kfoldAssign(df, col("id"), k = 5)
      .groupBy(col("fold")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == counts)
    // audit: per-stratum ppm shares sum to ~1M (floor-div slack < k)
    val audit = TrainingData.kfoldAudit(df, col("id"), col("stratum"), k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byStratum = audit.groupBy(_._2)
    assert(byStratum.keySet == Set("s0", "s1", "s2"))
    byStratum.values.foreach { cells =>
      val ppm = cells.map(_._4).sum
      assert(ppm > 1000000L - 5 && ppm <= 1000000L)
    }
  }

  test("oovRate: pruned vocab flags exactly the rare tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 'common' appears 3x (kept at minCount=2), 'rare' once (cut)
    val df = Seq((1L, "common common rare"), (2L, "common")).toDF("id", "text")
    val out = TrainingData.oovRate(df, col("id"), col("text"), minCount = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 1L, 333333L)))
    assert(out(2L) == ((1L, 0L, 0L)))
  }

  test("cdcChunkStats: boundaries are content-defined — an edit moves only its own") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val df = Seq((1L, base), (2L, "short")).toDF("id", "text")
    val out = TrainingData.cdcChunkStats(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // short doc (< window) is dropped; long doc has n_chunks = nb + 1
    assert(!out.contains(2L))
    val (nc, nb, nch, avg) = out(1L)
    assert(nc == base.length.toLong && nch == nb + 1 && avg == nc / nch)
    // prefix edit: boundaries strictly after the edit window stay put
    val edited = "X" + base.drop(1)
    val out2 = TrainingData.cdcChunkStats(Seq((1L, edited)).toDF("id", "text"),
      col("id"), col("text")).collect().head
    // identical length, and boundary count differs by at most the
    // window's worth of positions the edit could touch
    assert(math.abs(out2.getLong(2) - nb) <= 8L)
  }

  test("chunkDedupSummary: a pasted passage shares chunk hashes across docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val passage = "the quick brown fox jumps over the lazy dog " * 30
    // two docs embed the same long passage at DIFFERENT offsets; the
    // third is unrelated — content-defined cuts realign regardless
    val df = Seq(
      (1L, "PREFIX-A " + passage),
      (2L, "a completely different and much longer prefix here " + passage),
      (3L, "nothing in common with the others at all " * 25)
    ).toDF("id", "text")
    val r = TrainingData.chunkDedupSummary(df, col("id"), col("text"))
      .collect().head
    val (nChunks, nDistinct, nShared, docsShared) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nChunks >= nDistinct && nDistinct > 0)
    assert(nShared > 0, "shared passage must produce shared chunk hashes")
    assert(docsShared >= 2)
  }

  test("rollingOrigin: expanding train windows, leakage-free test slices") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // ticks 0..9, window 4, horizon 2, 2 folds:
    // fold 0: train [0,4), test [4,6); fold 1: train [0,6), test [6,8)
    val df = (0L until 10L).toDF("tick")
    val out = TrainingData.rollingOrigin(df, col("tick"), 4L, 2L, 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(0)))
    val f0 = out.filter(_._1 == 0)
    assert(f0.filter(_._2 == "train").map(_._3).sorted.toSeq == (0L to 3L))
    assert(f0.filter(_._2 == "test").map(_._3).sorted.toSeq == Seq(4L, 5L))
    val f1 = out.filter(_._1 == 1)
    assert(f1.filter(_._2 == "train").map(_._3).sorted.toSeq == (0L to 5L))
    assert(f1.filter(_._2 == "test").map(_._3).sorted.toSeq == Seq(6L, 7L))
    // ticks past the last fold's test end never appear
    assert(!out.exists(_._3 >= 8L))
  }

  test("lengthBuckets: exact padding waste per width bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // widths 10: bucket 0 = {3, 7}, bucket 1 = {10}
    val df = Seq(3L, 7L, 10L).toDF("len")
    val out = TrainingData.lengthBuckets(df, col("len"), width = 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // bucket 0: pad to 7 -> waste 2·7−10 = 4, ppm = 4e6 div 14 = 285714
    assert(out(0L) == ((2L, 10L, 7L, 4L, 285714L)))
    assert(out(1L) == ((1L, 10L, 10L, 0L, 0L)))
  }

  test("concentration: HHI exact ppm; monopoly 1e6, k equal sources 1e6/k") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // monopoly: one source holds everything
    val mono = Seq("a", "a", "a").toDF("s")
    val rm = TrainingData.concentration(mono, col("s")).collect().head
    assert(rm.getAs[Long]("hhi_ppm") == 1000000L)
    assert(rm.getAs[Long]("top_share_ppm") == 1000000L)
    assert(rm.getAs[Long]("effective_k_milli") == 1000L)
    // four equal sources: HHI = 1/4, effective k = 4.000
    val eq = (1 to 4).flatMap(i => Seq.fill(5)(s"s$i")).toDF("s")
    val re = TrainingData.concentration(eq, col("s")).collect().head
    assert(re.getAs[Long]("k") == 4L && re.getAs[Long]("n") == 20L)
    assert(re.getAs[Long]("hhi_ppm") == 250000L)
    assert(re.getAs[Long]("effective_k_milli") == 4000L)
    // 80/20 split: (16+1)/25 = 680000 ppm, top 800000
    val skew = (Seq.fill(4)("big") ++ Seq("small")).toDF("s")
    val rs = TrainingData.concentration(skew, col("s")).collect().head
    assert(rs.getAs[Long]("hhi_ppm") == 680000L)
    assert(rs.getAs[Long]("top_share_ppm") == 800000L)
  }

  test("kishEffectiveSize: uniform weights keep n; a whale collapses it") {
    import org.apache.spark.sql.functions.col
    val eq = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 5L)).toDF("g", "w")
    val r = TrainingData.kishEffectiveSize(eq, col("g"), col("w"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("n_eff_milli") == 4000L)
    assert(r.getAs[Long]("deff_ppm") == 1000000L)
    // (100, 1, 1, 1): n_eff = 103²/10003 ≈ 1.06
    val wh = Seq(("g", 100L), ("g", 1L), ("g", 1L), ("g", 1L)).toDF("g", "w")
    val rw = TrainingData.kishEffectiveSize(wh, col("g"), col("w"))
      .collect().head
    assert(rw.getAs[Long]("n_eff_milli") == 10609L * 1000L / 10003L)
    assert(rw.getAs[Long]("deff_ppm") == 4L * 10003L * 1000000L / 10609L)
  }

  test("abcClasses: interval-start tiering; dominant key stays in A") {
    import org.apache.spark.sql.functions.col
    // 70/20/10: textbook one key per class
    val df = Seq(("big", 70L), ("mid", 20L), ("tail", 10L)).toDF("k", "w")
    val out = TrainingData.abcClasses(df, col("k"), col("w"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("weight"),
          r.getAs[Long]("weight_share_ppm"))).toMap
    assert(out("A") == ((1L, 70L, 700000L)))
    assert(out("B") == ((1L, 20L, 200000L)))
    assert(out("C") == ((1L, 10L, 100000L)))
    // a 95% single key starts at 0 -> class A, the 5% key starts at
    // 95% -> straight to C, no empty-A artifact
    val dom = Seq(("whale", 95L), ("shrimp", 5L)).toDF("k", "w")
    val od = TrainingData.abcClasses(dom, col("k"), col("w"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_keys")).toMap
    assert(od == Map("A" -> 1L, "C" -> 1L))
  }

  test("apportion: floors + largest remainders always hit the total") {
    import org.apache.spark.sql.functions.col
    def run(ws: Seq[(String, Long)], total: Long) =
      TrainingData.apportion(ws.toDF("k", "w"), col("k"), col("w"), total)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("base"), r.getAs[Long]("extra"),
            r.getAs[Long]("alloc"))).toMap
    // W = 11, total 10: bases 4,2,2; the two leftover seats go to the
    // larger remainders (b, c at 8 beat a at 6)
    val m = run(Seq("a" -> 5L, "b" -> 3L, "c" -> 3L), 10L)
    assert(m("a") == ((4L, 0L, 4L)))
    assert(m("b") == ((2L, 1L, 3L)) && m("c") == ((2L, 1L, 3L)))
    assert(m.values.map(_._3).sum == 10L)
    // three-way remainder tie, one seat: smallest key wins
    val t = run(Seq("a" -> 1L, "b" -> 1L, "c" -> 1L), 10L)
    assert(t("a") == ((3L, 1L, 4L)) && t("b")._3 == 3L && t("c")._3 == 3L)
    // exact divisibility: no extras anywhere
    val e = run(Seq("x" -> 2L, "y" -> 3L, "z" -> 5L), 100L)
    assert(e("x") == ((20L, 0L, 20L)) && e("y")._3 == 30L && e("z")._3 == 50L)
  }

  test("mmrRerank: relevance first, then diversity; pure-relevance at lambda=1") {
    // ids 1..3 on a line (x = 0, .1, 1) with rel 100/90/10. Pick 1 is
    // pure relevance (id 1). At λ=.5 the d² scale dominates this toy
    // rel scale, so pick 2 is the far point (id 3, min_d2 = 10⁶),
    // pick 3 the remainder (id 2, min_d2 = 100² = 10⁴).
    val pts = Seq((1L, 0.0f, 100L), (2L, 0.1f, 90L), (3L, 1.0f, 10L))
      .map { case (id, x, r) => (id, Array(x), r) }
      .toDF("vec_id", "embedding", "rel")
    for (local <- Seq(true, false)) onRoute(local) {
      val out = TrainingData.mmrRerank(pts, "vec_id", "embedding", "rel", m = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(out == Seq((1, 1L, 100L, 0L), (2, 3L, 10L, 1000000L),
        (3, 2L, 90L, 10000L)), s"local=$local")
      graft.core.CacheRegistry.unpersistAll()
      // λ = 1: pure relevance order regardless of geometry
      val pure = TrainingData.mmrRerank(pts, "vec_id", "embedding", "rel",
          m = 3, lamPpm = 1000000L)
        .collect().map(r => r.getLong(1)).toSeq
      assert(pure == Seq(1L, 2L, 3L), s"local=$local")
      graft.core.CacheRegistry.unpersistAll()
    }
  }

  test("kcenterSelect: farthest-point picks in closed form; ties to smaller id") {
    // line points x = 0, 1, .4, .6, .9 (ids 1..5); md5 draw starts at
    // id 4 (x=.6), then farthest-point walks 1 -> 2 -> 3 with exact
    // milli-unit squared distances
    val pts = Seq(1L -> 0.0f, 2L -> 1.0f, 3L -> 0.4f, 4L -> 0.6f, 5L -> 0.9f)
      .map { case (id, x) => (id, Array(x, 0.0f)) }.toDF("vec_id", "embedding")
    // equidistant candidates: md5 starts at id 11 (x=1); ids 10 and 12
    // both sit at d² = 10⁶ — the tie goes to the smaller id
    val tie = Seq(10L -> 0.0f, 11L -> 1.0f, 12L -> 2.0f)
      .map { case (id, x) => (id, Array(x)) }.toDF("vec_id", "embedding")
    for (local <- Seq(true, false)) onRoute(local) {
      val out = TrainingData.kcenterSelect(pts, "vec_id", "embedding", k = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out == Seq((1, 4L, 0L), (2, 1L, 360000L),
        (3, 2L, 160000L), (4, 3L, 40000L)), s"local=$local")
      graft.core.CacheRegistry.unpersistAll()
      val t2 = TrainingData.kcenterSelect(tie, "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(t2 == Seq((1, 11L, 0L), (2, 10L, 1000000L), (3, 12L, 1000000L)),
        s"local=$local")
      graft.core.CacheRegistry.unpersistAll()
      // k beyond the candidate count: the realized prefix, not a crash
      val ex = TrainingData.kcenterSelect(tie, "vec_id", "embedding", k = 10)
        .collect()
      assert(ex.length == 3, s"local=$local")
      graft.core.CacheRegistry.unpersistAll()
    }
  }
}
