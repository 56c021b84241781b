package graft

import graft.operators.{Dedup, Relational, Similarity, TrainingData}
import org.apache.spark.sql.functions._

/** 10× scale probe: replicate sf0.1 documents/embeddings tenfold and
  * time the heavy operators — evidence that the candidate-generation
  * layouts grow with matches, not corpus².
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1fs rows=$n")
    }

    val docs0 = spark.read.parquet(s"$d/documents.parquet")
    val docs10 = (0 until 10).map(k =>
      docs0.select((col("doc_id") + k * 100000).as("doc_id"), col("text"), col("lang")))
      .reduce(_ unionAll _).repartition(32)
    println(s"docs10 count=${docs10.count()}")

    time("minhashPairs 50k docs")(
      Dedup.minhashPairs(docs10, "doc_id", "text", 2, 64, 16, 0.5).count())
    time("simhashPairs 50k docs")(
      Dedup.simhashPairs(docs10, "doc_id", "text", 3).count())
    time("ngramJaccard 50k docs")(
      Dedup.ngramJaccardPairs(docs10, "doc_id", "text", 2, 0.2, 100).count())
    graft.core.CacheRegistry.unpersistAll()
    time("connectedComponents 50k nodes")(
      Dedup.connectedComponents(
        docs10.select(col("doc_id")), "doc_id",
        Dedup.ngramJaccardPairs(docs10, "doc_id", "text", 2, 0.2, 100)).count())
    graft.core.CacheRegistry.unpersistAll()
    time("contamination 40k train vs 10k bench")(
      TrainingData.contaminationCheck(
        docs10.where(col("doc_id") % 5 =!= 0), docs10.where(col("doc_id") % 5 === 0),
        "doc_id", "text", 3, 3, 100).count())
    time("chunkWords 50k docs")(
      TrainingData.chunkWords(docs10, Seq("doc_id"), "text", 64, 32).count())
    time("repetitionStats 50k docs")(
      TrainingData.repetitionStats(docs10, "doc_id", "text", 2).count())
    time("budgetSelect 50k docs, 2M-token budget")(
      TrainingData.budgetSelect(
        docs10.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          graft.functions.TextFunctions.stopwordRatio(col("text")).as("q")),
        Seq(col("q").desc, col("doc_id")), col("n_tokens"), 2000000L).count())
    graft.core.CacheRegistry.unpersistAll()
    val sup = spark.read.parquet(s"$d/supplier.parquet")
    val sup10 = (0 until 10).map(k =>
      sup.select(concat(col("s_name"), lit("#"), lit(k)).as("s_name")))
      .reduce(_ unionAll _).repartition(32)
    time("fuzzyJoin 10k names maxEdit=1")(
      Dedup.fuzzyJoin(sup10, sup10, "s_name", "s_name", 1)
        .where(col("left_val") < col("right_val")).count())
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    time("globalIndex 600k lineitem")(
      Relational.globalIndex(
        li.select(col("l_orderkey"), col("l_linenumber")),
        Seq(col("l_orderkey"), col("l_linenumber"))).count())

    graft.core.CacheRegistry.unpersistAll()
    time("duplicateSpanFraction 50k docs")(
      Dedup.duplicateSpanFraction(docs10, "doc_id", "text", 3).count())
    graft.core.CacheRegistry.unpersistAll()
    time("containmentPairs 50k docs")(
      Dedup.containmentPairs(docs10, "doc_id", "text", 2, 0.6, 100).count())
    graft.core.CacheRegistry.unpersistAll()
    time("deterministicShuffle 50k docs")(
      TrainingData.deterministicShuffle(docs10, col("doc_id")).count())
    time("topNgrams 50k docs bigrams")(
      graft.operators.Ranking.topNgrams(docs10, "text", 2, 50).count())

    graft.core.CacheRegistry.unpersistAll()
    time("paragraphDedup 50k docs (30-word paras)")(
      Dedup.dropDuplicateParagraphs(
        TrainingData.chunkWords(docs10, Seq("doc_id"), "text", 30, 30)
          .select(col("doc_id"), col("chunk_id").as("pos"), col("chunk").as("para")),
        "doc_id", "pos", "para", " ").count())
    time("mixtureSample 50k docs")(
      TrainingData.mixtureSample(docs10, col("lang"), col("doc_id"), 0.5).count())
    // events.ts physical type has drifted across testdata generations;
    // SparkEntry.t() normalizes any of them to the µs-UTC column.
    val ev = SparkEntry.t(spark, d, "events")
    val ev10 = (0 until 10).map(k =>
      ev.select((col("user_id") + k * 10000).as("user_id"), col("ts"), col("event_type")))
      .reduce(_ unionAll _).repartition(32)
    time("funnel 1M events / 1.5k users")(
      graft.operators.Analytics.funnel(
        ev10, col("user_id"), col("ts"), col("event_type"),
        Seq("signup", "view", "click", "purchase")).count())
    time("zorderBy 600k lineitem")(
      graft.operators.Layout.zorderBy(
        li.select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y")),
        8, Seq(col("x"), col("y"))).count())
    // Linkage cost = Σ block² — the probe uses a sane composite
    // blocking key (nation, custkey%200: ~30-row blocks), the shape a
    // production linkage would choose; candidate volume stays ~linear
    // in corpus size at fixed block width.
    val cust = spark.read.parquet(s"$d/customer.parquet")
    val cust10 = (0 until 10).map(k =>
      cust.select((col("c_custkey") + k * 100000).as("c_custkey"),
        col("c_nationkey"), concat(col("c_name"), lit("#"), lit(k)).as("c_name")))
      .reduce(_ unionAll _).repartition(32)
    time("jaro linkage 150k x 150k composite-blocked")(
      Dedup.linkageJoin(
        cust10, cust10.select(col("c_custkey").as("d_custkey"),
          col("c_nationkey").as("d_nationkey"), col("c_name").as("d_name")),
        Seq(col("c_nationkey") -> col("d_nationkey"),
          (col("c_custkey") % 200) -> (col("d_custkey") % 200)),
        col("c_name"), col("d_name"), 0.975).count())

    time("bpe train 200 merges on 50k docs") {
      val merges = graft.functions.Bpe.learnMerges(
        docs10.select(explode(graft.functions.TextFunctions.words(col("text"))).as("w")),
        "w", numMerges = 200)
      merges.length.toLong
    }
    val emb0 = spark.read.parquet(s"$d/embeddings.parquet")
    val emb10 = (0 until 10).map(k =>
      emb0.select((col("vec_id") + k * 100000).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _).repartition(32)
    println(s"emb10 count=${emb10.count()}")
    // 10x trade graph: 10 disjoint copies of the customer↔supplier
    // pairs (volume scaling is the probe's point; diameter is fixed)
    val ord = spark.read.parquet(s"$d/orders.parquet")
    val pairs0 = ord.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp")).distinct()
    // tagged-long node keys, same encoding as the SparkEntry gates:
    // fixed 8-byte shuffle keys through every superstep
    val half10 = (0 until 10).map(k =>
      pairs0.select(
        ((col("cust") + k * 1000000) * 2).as("src"),
        ((col("supp") + k * 1000000) * 2 + 1).as("dst")))
      .reduce(_ unionAll _)
    val graph10 = half10
      .unionAll(half10.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(32)
    val seeds10 = (0 until 10).map(k =>
      pairs0.where(col("supp") % 10 === 0)
        .select(((col("supp") + k * 1000000) * 2 + 1).as("seed")))
      .reduce(_ unionAll _).distinct()
    time("pageRank 3 iters on 2.4M edges")(
      graft.operators.Graph.pageRank(graph10, "src", "dst", iters = 3).count())
    graft.core.CacheRegistry.unpersistAll()
    time("trustRank 2 iters on 2.4M edges")(
      graft.operators.Graph.trustRank(graph10, "src", "dst", seeds10, "seed", iters = 2).count())
    graft.core.CacheRegistry.unpersistAll()
    time("hopDistance 3 hops on 2.4M edges")(
      graft.operators.Graph.hopDistance(graph10, "src", "dst", seeds10, "seed", maxHops = 3).count())
    graft.core.CacheRegistry.unpersistAll()
    locally {
      import spark.implicits._
      time("countMin d=4 w=1024 over 1M event keys")(
        ev10.select(col("event_type")).as[String]
          .select(graft.functions.TypedAggregators.countMin(4, 1024).toColumn)
          .head().length.toLong)
    }

    // Stats family: one-shuffle partial-sum aggregations — cost is the
    // scan + a |groups|-row reduce, so 10× data ≈ 10× scan time flat.
    val li10 = (0 until 10).map(k =>
      li.select((col("l_orderkey") + k * 10000000L).as("ok"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")))
      .reduce(_ unionAll _).repartition(32)
    time("groupedLinearFit 6M rows")(
      graft.operators.Analytics.groupedLinearFit(
        li10.select(col("l_returnflag").as("g"), (col("ok") % 2048).cast("long").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y")),
        Seq(col("g")), col("x"), col("y")).count())
    time("groupedCorrMatrix 6M rows x 4 metrics")(
      graft.operators.Analytics.groupedCorrMatrix(
        li10.select(col("l_returnflag").as("rf"),
          col("l_quantity").cast("decimal(18,2)").as("qty"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"),
          col("l_discount").cast("decimal(18,2)").as("disc"),
          col("l_tax").cast("decimal(18,2)").as("tax")),
        Seq(col("rf")),
        Seq("qty" -> col("qty"), "price" -> col("price"),
          "disc" -> col("disc"), "tax" -> col("tax"))).count())
    time("groupedCorrMatrix 6M rows x 4 metrics, cent-long fast path") {
      def cents(c: String) = (col(c).cast("decimal(18,2)") * 100).cast("long")
      graft.operators.Analytics.groupedCorrMatrix(
        li10.select(col("l_returnflag").as("rf"),
          cents("l_quantity").as("qty"), cents("l_extendedprice").as("price"),
          cents("l_discount").as("disc"), cents("l_tax").as("tax")),
        Seq(col("rf")),
        Seq("qty" -> col("qty"), "price" -> col("price"),
          "disc" -> col("disc"), "tax" -> col("tax")),
        wideProducts = Set("price")).count()
    }
    time("noveltyScore 40k corpus vs 10k probe")(
      TrainingData.noveltyScore(
        docs10.where(col("doc_id") % 5 =!= 0), docs10.where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3).count())

    // Catalog/sampling/LM family (round-5 continuation)
    val cust10b = (0 until 10).map(k =>
      cust.select((col("c_custkey") + k * 100000).as("k"),
        concat(col("c_name"), lit("#"), lit(k)).as("name"),
        col("c_acctbal").cast("decimal(18,2)").as("bal")))
      .reduce(_ unionAll _).repartition(32)
    time("scd2Merge 150k-key history vs 100k-key snapshot") {
      val hist = cust10b
        .select(col("k"), col("name"), col("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val snap = cust10b.where(col("k") % 3 =!= 0)
        .select(col("k"), col("name"),
          when(col("k") % 7 === 0, col("bal") + 100).otherwise(col("bal")).as("bal"))
      graft.operators.Quality.scd2Merge(hist, snap, Seq("k"), Seq("name", "bal"), asOf = 1L).count()
    }
    time("weightedSample 50k docs, k=100 per lang")(
      TrainingData.weightedSample(
        docs10.select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("w")),
        col("doc_id"), col("w"), k = 100, groupCols = Seq(col("lang"))).count())
    time("lmScore 40k corpus vs 10k probe")(
      TrainingData.lmScore(
        docs10.where(col("doc_id") % 5 =!= 0), docs10.where(col("doc_id") % 5 === 0),
        "doc_id", "text").count())
    time("histogram 6M rows, 21 bins")(
      graft.operators.Analytics.histogram(
        li10.select(col("l_returnflag").as("rf"), col("l_extendedprice").as("v")),
        Seq(col("rf")), col("v"), BigDecimal("900.00"), BigDecimal("5000.00"), 21).count())
    time("gapFill 150k orders -> 97-key weekly grid")(
      graft.operators.Relational.gapFill(
        ord.select((col("o_custkey") % 97).as("k"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("_d"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
          .select(col("k"), expr("_d div 7").as("tick"), col("p"))
          .groupBy("k", "tick").agg(count(lit(1)).as("n"), sum("p").as("s")),
        Seq("k"), "tick", 1L, locf = Seq("s"), defaults = Map("n" -> lit(0L))).count())
    time("quantileBins 600k lineitem values")(
      graft.operators.Relational.quantileBins(
        li.select(col("l_orderkey"), col("l_extendedprice").as("v")),
        col("v"), Seq(0.25, 0.5, 0.75)).count())

    // Data-selection / association family (round-5 continuation)
    time("dsirWeights 37k raw vs 13k target docs")(
      TrainingData.dsirWeights(
        docs10.where(col("doc_id") % 4 =!= 0), docs10.where(col("doc_id") % 4 === 0),
        "doc_id", "text").count())
    val li10p = (0 until 10).map(k =>
      spark.read.parquet(s"$d/lineitem.parquet")
        .select((col("l_orderkey") + k * 10000000L).as("ok"), col("l_partkey")))
      .reduce(_ unionAll _).repartition(32)
    time("cooccurrence 6M rows, 1.5M baskets")(
      graft.operators.Analytics.cooccurrence(li10p, col("ok"), col("l_partkey")).count())
    // 10x replication multiplies every support 10x, so >= 20 is the
    // scale-equivalent of the gate's >= 2 threshold
    time("triangleCounts over support>=20 co-purchase graph") {
      val n = graft.operators.Graph.triangleCounts(
        graft.operators.Analytics.cooccurrence(li10p, col("ok"), col("l_partkey"),
          minSupport = 20L),
        col("item_a"), col("item_b")).count()
      graft.core.CacheRegistry.unpersistAll()
      n
    }

    time("kmeans k=16 x 3 iters on 20k vecs")(
      graft.operators.Clustering.kmeans(emb10, "embedding", k = 16, maxIter = 3)
        .centroids.length.toLong)
    time("embeddingCosinePairs 20k vecs (adaptive bits)")(
      Dedup.embeddingCosinePairs(emb10, "vec_id", "embedding", 0.35, tables = 4).count())
    time("bruteForceTopK 10q x 20k")(
      Similarity.bruteForceTopK(emb10.where(col("vec_id") < 10), emb10, "vec_id", "embedding", 5).count())
    graft.core.CacheRegistry.unpersistAll()
    time("ivfTopK 10q x 20k (sampled local quantizer)")(
      Similarity.ivfTopK(emb10.where(col("vec_id") < 10), emb10, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 6).count())

    // Round-6 family: EWMA, sketch rollup/set-ops, graph propagation,
    // span removal
    graft.core.CacheRegistry.unpersistAll()
    time("ewma 1M events")(
      graft.operators.Analytics.ewma(
        ev10.withColumn("eid", monotonically_increasing_id()),
        col("user_id"), Seq(col("ts"), col("eid")), col("eid"),
        col("user_id") % 100, alpha = 0.25).count())
    time("distinctRollup 1M events, (type, day) cascade")(
      graft.operators.Sketches.distinctRollup(
        ev10.select(col("event_type"), to_date(col("ts")).as("day"), col("user_id")),
        Seq("event_type" -> col("event_type"), "day" -> col("day")),
        col("user_id")).count())
    graft.core.CacheRegistry.unpersistAll()
    time("labelPropagation 3 rounds, support>=20 co-purchase graph") {
      val n = graft.operators.Graph.labelPropagation(
        graft.operators.Analytics.cooccurrence(li10p, col("ok"), col("l_partkey"),
          minSupport = 20L),
        col("item_a"), col("item_b"), rounds = 3).count()
      graft.core.CacheRegistry.unpersistAll()
      n
    }
    time("shortestPaths 4 rounds, support>=20 co-purchase graph") {
      val pairs = graft.operators.Analytics.cooccurrence(
        li10p, col("ok"), col("l_partkey"), minSupport = 20L)
      val w = (pmod(col("item_a") + col("item_b"), lit(97)) + 1).as("w")
      val dir = pairs.select(col("item_a").as("u"), col("item_b").as("v"), w)
        .unionAll(pairs.select(col("item_b").as("u"), col("item_a").as("v"), w))
      val n = graft.operators.Graph.shortestPaths(
        dir, col("u"), col("v"), col("w"),
        dir.select(col("u").as("n")).distinct().where(col("n") % 50 === 0),
        col("n"), rounds = 4).count()
      graft.core.CacheRegistry.unpersistAll()
      n
    }
    time("removeDuplicateSpans 50k docs n=5") {
      val n = Dedup.removeDuplicateSpans(docs10, "doc_id", "text", n = 5).count()
      graft.core.CacheRegistry.unpersistAll()
      n
    }

    // Round-9 additions. Levenshtein linkage at 10×: Σ block² is the
    // envelope, so the probe blocks compositely like the jaro probe —
    // fixed ~30-row blocks keep candidate volume linear in corpus size.
    time("editDistanceLink 150k composite-blocked maxDist=2")(
      Dedup.editDistanceLink(
        cust10.select(
          (col("c_nationkey") * 1000 + col("c_custkey") % 200).as("blk"),
          col("c_custkey"), col("c_name")),
        col("blk"), col("c_custkey"), col("c_name"), maxDist = 2).count())
    // hot-bucket star-link path actually firing: 20k exact clones in
    // ONE bucket per band, cap 1000 -> O(b) star pairs, never b²
    time("minhashPairs 20k-clone hot bucket, maxBucket=1000") {
      val clones = spark.range(0, 20000, 1, 32)
        .select(col("id").as("doc_id"),
          lit("the quick brown fox jumps over the lazy dog again").as("text"))
      val n = Dedup.minhashPairs(clones, "doc_id", "text", 2, 64, 16, 0.5,
        maxBucket = 1000).count()
      graft.core.CacheRegistry.unpersistAll()
      n
    }
    // per-key series stats at 10× events: bounded by (keys × days),
    // pairwise envelopes by days² per key
    time("changePoint 1M events / 15k user-keys")(
      graft.operators.Analytics.changePoint(
        ev10.withColumn("v", (col("user_id") % 97).cast("long")),
        col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01")), col("v")).count())
    time("mannKendall 1M events / 5 type-keys")(
      graft.operators.Analytics.mannKendall(
        ev10.withColumn("v", (col("user_id") % 97).cast("long")),
        col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")), col("v")).count())
    // t-closeness: two bounded-domain count aggregates + a class×domain
    // grid join — 10× rows, same grid
    time("tCloseness 150k rows, 250 classes x 6 buckets")(
      graft.operators.Quality.tCloseness(
        cust10.withColumn("bal", (col("c_custkey") % 12000L) - 2000L),
        Seq(col("c_nationkey"), (col("c_custkey") % 10).as("seg")),
        (col("bal") + lit(2000L)) / lit(2000L) cast "long",
        tPpm = 200000L).count())

    // round-10: the sampled-BFS centrality scales with |S|·|E|·hops —
    // probed on the SAME 2.4M-edge 10× trade graph as pageRank above
    graft.core.CacheRegistry.unpersistAll()
    time("betweennessSampled 8 seeds / 3 hops on 2.4M edges")(
      graft.operators.Graph.betweennessSampled(
        graph10, col("src"), col("dst"), 8, 3, 50).count())
    graft.core.CacheRegistry.unpersistAll()
    // knnShapley: the test side is the broadcast contract (fixed 20),
    // so the pair frame grows LINEARLY with the train corpus
    val semb0 = spark.read.parquet(s"$d/embeddings.parquet")
    val semb10 = (0 until 10).map(k =>
      semb0.select((col("vec_id") + k * 100000L).as("vec_id"),
        col("embedding"), col("label"))).reduce(_ unionAll _)
    time("knnShapley 20k train / 20 test")(
      Similarity.knnShapley(semb10.where(col("vec_id") >= 20),
        semb10.where(col("vec_id") < 20), "vec_id", "embedding", "label",
        5).count())

    // round-11: the ANN composition cuts the pair frame from
    // |test|·|train| to Σ probed-cell sizes — at nprobe=4/16 that is
    // ~1/4 the exact pair work on the same 10× corpus
    graft.core.CacheRegistry.unpersistAll()
    time("knnShapleyAnn 20k train / 20 test, nprobe 4/16")(
      Similarity.knnShapleyAnn(semb10.where(col("vec_id") >= 20),
        semb10.where(col("vec_id") < 20), "vec_id", "embedding", "label",
        5, 50, nlist = 16, nprobe = 4).count())
    graft.core.CacheRegistry.unpersistAll()
    // round-11: real imageio decode is a narrow per-partition map —
    // 10× rows ≈ 10× decode work, zero shuffle
    time("decodeBmpStats 50k synthetic bitmaps")(
      graft.operators.Multimodal.decodeBmpStats(
        graft.operators.Multimodal.attachSyntheticBmp(
          docs10.select(col("doc_id"), length(col("text")).as("nc")),
          col("nc") % 13 + 1L, col("nc") % 7 + 1L, col("doc_id") % 256L),
        "payload").count())
    spark.stop()
  }
}
