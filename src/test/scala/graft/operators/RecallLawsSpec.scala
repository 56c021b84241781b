package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized recall laws for the APPROXIMATE dedup/ANN family
  * (round-11 verdict #2): the gate queries (`q_dedup_minhash`,
  * `q_semdedup`, `q_sim_lsh/ivf/pq`) pin recall at FIXED parameters on
  * the FIXED testdata; these laws pin the distribution-free claims on
  * seeded random corpora with planted structure and random parameter
  * draws:
  *
  *  - **LSH S-curve capture**: planted near-dup pairs at controlled
  *    jaccard levels are caught at the rate the banding S-curve
  *    p(j) = 1 − (1 − j^r)^b predicts — certainly in the saturated
  *    region, within a binomial tolerance at the inflection, almost
  *    never far below it — across random (bands, maxBucket) draws.
  *  - **maxBucket star-linking never drops an exact-dup cluster**: a
  *    planted identical-text cluster larger than the cap comes back
  *    CONNECTED (reachability is the documented contract; pair
  *    completeness inside hot buckets is the documented trade).
  *  - **IVF nested probes**: recall against exact brute force is
  *    monotone non-decreasing in nprobe (probe sets are nested by
  *    construction), and nprobe = nlist reproduces brute force
  *    EXACTLY (identical scoring + tie-break order).
  *  - **IVF/LSH/PQ clustered recall floor**: on separated planted
  *    clusters — the regime ANN indexes are FOR — partial-probe IVF,
  *    multi-table LSH and ADC-scanned PQ retrieve same-cluster
  *    neighbors.
  *  - **SemDeDup soundness + planted-dup completeness**: everything
  *    dropped has a genuinely above-threshold smaller-id partner
  *    (verification is exact), and planted exact-duplicate vectors
  *    are ALWAYS dropped (identical vectors share identical probe
  *    cells deterministically), across random (nlist, probes) draws.
  *
  * Reproducibility follows DifferentialFuzzSpec: one seed, printed in
  * the test name, overridable via SPARK_GRAFT_FUZZ_SEED, sweepable
  * (for (s <- 1 to 30) SPARK_GRAFT_FUZZ_SEED=s ...). Tolerances are
  * sized so a 30-seed sweep stays green with large margin (the
  * binomial bounds are ≥ 4σ; the "certain" regions are ≤ 1e-6 per
  * pair).
  */
class RecallLawsSpec extends SparkSpec {
  import spark.implicits._

  private val seed =
    sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong

  /** 1 − (1 − j^r)^b — the banding S-curve. */
  private def capture(j: Double, b: Int, r: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, r), b)

  /** Replacing m of K distinct tokens with fresh ones yields
    * jaccard (K−m)/(K+m). */
  private def jOf(k: Int, m: Int): Double = (k - m).toDouble / (k + m)

  test(s"LSH S-curve capture + star-link connectivity on planted corpora (seed $seed)") {
    val rnd = new scala.util.Random(seed * 7 + 1)
    val K = 40
    var tokenCounter = 0L
    // fresh tokens are seed-parameterized: the minhash randomness is
    // the hash of the token STRINGS, so each seed draws a fresh
    // Bernoulli sample from the same S-curve
    def freshTokens(n: Int): Seq[String] =
      (0 until n).map { _ => tokenCounter += 1; s"w${seed}x$tokenCounter" }
    def mutate(base: Seq[String], m: Int): Seq[String] = {
      val keepIdx = rnd.shuffle(base.indices.toList).drop(m).toSet
      base.zipWithIndex.collect { case (t, i) if keepIdx(i) => t } ++
        freshTokens(m)
    }
    for (round <- 1 to 2) {
      val bands = Seq(8, 16, 32)(rnd.nextInt(3))
      val numHashes = 64
      val r = numHashes / bands
      val maxBucket = Seq(0, 5, 10000)(rnd.nextInt(3))
      // plant three jaccard regimes off the S-curve: saturated
      // (capture ≥ 1 − 1e-6), inflection (capture ≈ the prediction),
      // and tail (capture ≤ 0.02)
      val mHigh = (1 until K).takeWhile(m =>
        capture(jOf(K, m), bands, r) >= 1.0 - 1e-6).lastOption.getOrElse(1)
      val tInfl = math.pow(1.0 / bands, 1.0 / r)
      val mMed = math.max(1, math.min(K - 1,
        math.round(K * (1 - tInfl) / (1 + tInfl)).toInt))
      val mLow = (1 until K).find(m =>
        capture(jOf(K, m), bands, r) <= 0.02).getOrElse(K - 1)
      val (nHigh, nMed, nLow) = (15, 60, 20)
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      def plant(n: Int, m: Int, baseId: Long): Seq[(Long, Long)] =
        (0 until n).map { i =>
          val base = freshTokens(K)
          val a = baseId + 2 * i
          val b = a + 1
          docs += ((a, base.mkString(" ")))
          docs += ((b, mutate(base, m).mkString(" ")))
          (a, b)
        }
      val high = plant(nHigh, mHigh, 1000L)
      val med = plant(nMed, mMed, 3000L)
      val low = plant(nLow, mLow, 6000L)
      // exact-dup cluster of 25 — over the cap when maxBucket = 5, so
      // every band star-links it; connectivity must survive
      val clusterIds = (9000L until 9025L)
      val clusterText = freshTokens(K).mkString(" ")
      clusterIds.foreach(id => docs += ((id, clusterText)))
      // background singletons (bucket noise, never verified pairs)
      (0 until 30).foreach(i => docs += ((20000L + i, freshTokens(K).mkString(" "))))

      val df = docs.toSeq.toDF("id", "text").repartition(8)
      val jLow = jOf(K, mLow)
      val pairs = Dedup.minhashPairs(df, "id", "text", shingleSize = 1,
          numHashes = numHashes, bands = bands, threshold = jLow - 0.005,
          maxBucket = maxBucket)
        .select(col("id_a"), col("id_b"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet

      def recallOf(planted: Seq[(Long, Long)]): Double =
        planted.count(pairs.contains).toDouble / planted.size
      val ctx = s"round=$round bands=$bands maxBucket=$maxBucket " +
        s"m=($mHigh,$mMed,$mLow)"
      // saturated region: per-pair miss ≤ 1e-6 → allow at most one
      assert(high.count(pairs.contains) >= nHigh - 1,
        s"$ctx high recall ${recallOf(high)}")
      // inflection: within 4.4σ of the prediction (n=60)
      val pMed = capture(jOf(K, mMed), bands, r)
      assert(math.abs(recallOf(med) - pMed) <= 0.28,
        s"$ctx med recall ${recallOf(med)} vs predicted $pMed")
      // tail: ≤ 0.25 caught where the curve predicts ≤ 0.02
      assert(recallOf(low) <= 0.25,
        s"$ctx low recall ${recallOf(low)}")
      // star-link connectivity: the exact-dup cluster is one component
      val parent = scala.collection.mutable.Map(
        clusterIds.map(id => id -> id): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val root = find(parent(x)); parent(x) = root; root }
      pairs.foreach { case (a, b) =>
        if (parent.contains(a) && parent.contains(b)) parent(find(a)) = find(b)
      }
      assert(clusterIds.map(find).toSet.size == 1,
        s"$ctx exact-dup cluster fragmented " +
          s"(${clusterIds.map(find).toSet.size} components)")
    }
  }

  test(s"IVF: nested-probe monotone recall; nprobe=nlist equals brute force (seed $seed)") {
    val rnd = new scala.util.Random(seed * 11 + 3)
    val dim = 8 + rnd.nextInt(8)
    val corpus = (1 to 150).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val queries = (1 to 15).map(i =>
      (1000L + i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val k = 3 + rnd.nextInt(5)
    val nlist = Seq(4, 8, 16)(rnd.nextInt(3))
    val brute = Similarity.bruteForceTopK(queries, corpus, "id", "vec", k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeSeq = Seq(1, 2, math.min(4, nlist), nlist).distinct.sorted
    val recalls = probeSeq.map { np =>
      val got = Similarity.ivfTopK(queries, corpus, "id", "vec", k,
          nlist = nlist, nprobe = np)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      np -> (got, got.intersect(brute).size.toDouble / brute.size)
    }
    // candidates at nprobe p are a SUBSET of candidates at p' > p (the
    // probe ranking is one fixed total order per query), and a true
    // top-k member among the candidates always survives the exact
    // re-scoring — so recall is monotone non-decreasing, determinist-
    // ically, not just in expectation
    recalls.map(_._2._2).sliding(2).foreach {
      case Seq(a, b) => assert(a <= b + 1e-12,
        s"recall not monotone: $recalls (nlist=$nlist k=$k dim=$dim)")
      case _ => ()
    }
    // full probe = the whole corpus as candidates, same (cosine desc,
    // neighbor_id) tie-break → EXACT brute-force reproduction
    assert(recalls.last._2._1 == brute,
      s"nprobe=nlist diverged from brute force (nlist=$nlist k=$k)")
  }

  test(s"IVF/PQ clustered recall floors on separated planted clusters (seed $seed)") {
    val rnd = new scala.util.Random(seed * 13 + 5)
    val dim = 16
    val nClusters = 4
    val perCluster = 25
    // near-orthogonal cluster axes (one-hot + noise): within-cluster
    // cosine ≈ 1, cross-cluster ≈ 0 — the separation regime ANN is for
    def member(c: Int): Array[Float] = {
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      v(4 * c) = (1.0 + rnd.nextGaussian() * 0.05).toFloat
      v
    }
    val corpus = (0 until nClusters).flatMap(c =>
      (0 until perCluster).map(j => (c * 100L + j, member(c))))
      .toDF("id", "vec")
    val queries = (0 until 12).map { i =>
      val c = i % nClusters
      (10000L + i, member(c), c)
    }
    val qdf = queries.map(q => (q._1, q._2)).toDF("id", "vec")
    val qCluster = queries.map(q => q._1 -> q._3).toMap
    def sameClusterTop1(df: org.apache.spark.sql.DataFrame): Double = {
      val top1 = df.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(top1.length == queries.size, "missing query in top-1")
      top1.count { case (q, n) =>
        qCluster(q) == (n / 100L).toInt
      }.toDouble / top1.length
    }
    // partial-probe IVF: nlist=8 over 4 true clusters, 2 probes
    val ivf = Similarity.ivfTopK(qdf, corpus, "id", "vec", k = 5,
      nlist = 8, nprobe = 2)
    assert(sameClusterTop1(ivf) >= 0.9, "IVF clustered top-1 floor")
    // multi-table LSH: a same-cluster neighbor shares a 4-bit bucket
    // with the query in at least one of 8 tables
    val lsh = Similarity.lshTopK(qdf, corpus, "id", "vec", k = 5,
      bits = 4, tables = 8)
    assert(sameClusterTop1(lsh) >= 0.9, "LSH clustered top-1 floor")
    // PQ ADC scan: quantization error ≪ the cluster separation
    val pq = Similarity.pqTopK(qdf, corpus, "id", "vec", k = 5,
      m = 8, kSub = 16)
    assert(sameClusterTop1(pq) >= 0.9, "PQ clustered top-1 floor")
    // exact rerank of a generous ADC shortlist reproduces brute top-1
    val bruteTop1 = Similarity.bruteForceTopK(qdf, corpus, "id", "vec", 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity.pqTopK(qdf, corpus, "id", "vec", k = 1,
        m = 8, kSub = 16, rerank = 60)
      .where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = reranked.intersect(bruteTop1).size.toDouble / bruteTop1.size
    assert(agree >= 0.9, s"PQ rerank top-1 vs brute: $agree")
    // IVF-PQ composition keeps the same floor
    val ivfpq = Similarity.ivfPqTopK(qdf, corpus, "id", "vec", k = 5,
      nlist = 8, nprobe = 4, m = 8, kSub = 16)
    assert(sameClusterTop1(ivfpq) >= 0.75, "IVF-PQ clustered top-1 floor")
  }

  test(s"SemDeDup: sound drops; planted exact duplicates always dropped (seed $seed)") {
    val rnd = new scala.util.Random(seed * 17 + 7)
    val dim = 8 + rnd.nextInt(8)
    val base = (1 to 120).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = (1 to 25).map(i => (2000L + i, base(i - 1)._2))
    val df = (base ++ dups).toDF("id", "vec")
    // exact ground truth for soundness: every above-threshold pair
    // (driver-local, 145² tiny)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val all = base ++ dups
    val eligibleDrops = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.95 - 1e-9
    } yield ib).toSet
    for ((nlist, probes) <- Seq((4, 1), (8, 2), (16, 4))) {
      val kept = Dedup.semanticDedup(df, "id", "vec", threshold = 0.95,
          nlist = nlist, probes = probes)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val dropped = all.map(_._1).toSet -- kept
      // soundness: verification is exact, so nothing without a genuine
      // above-threshold smaller-id partner may be dropped
      assert(dropped.subsetOf(eligibleDrops),
        s"unsound drops at (nlist=$nlist, probes=$probes): " +
          s"${dropped -- eligibleDrops}")
      // completeness on planted EXACT duplicates: identical vectors
      // share identical probe cells deterministically → always caught
      val plantedIds = dups.map(_._1).toSet
      assert(plantedIds.subsetOf(dropped),
        s"planted dup survived at (nlist=$nlist, probes=$probes): " +
          s"${plantedIds -- dropped}")
      // and their smaller-id partners are kept unless THEY have an
      // even-smaller above-threshold partner
      val partners = (1 to 25).map(_.toLong).toSet
      assert((partners -- kept).subsetOf(eligibleDrops))
    }
  }
}
