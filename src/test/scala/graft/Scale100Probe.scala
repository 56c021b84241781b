package graft

import graft.operators.{Analytics, Dedup, Graph, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 100× scale probe (round-11 verdict #1): the 10× [[ScaleProbe]]
  * replicates sf0.1 tenfold (50k docs); this replicates it
  * HUNDREDfold — 500k documents, 200k embeddings, 60M lineitem rows,
  * 117.4M directed trade edges (586,871 distinct cust↔supp pairs ×
  * 100 copies × both directions) — and times the heavy
  * dedup/similarity/graph tail
  * the verdict names (the OPERATORS behind q_dedup_minhash,
  * q_dedup_incr_op, q_semdedup_knn, q_sim_ivf, q_pagerank,
  * q_betweenness, q_chatterjee; the gates' exact self-verification
  * scaffolding is quadratic BY DESIGN and stays at gate scale).
  *
  * Beside the timing, every probed frame is PLAN-PINNED at this scale:
  * [[graft.operators.Diagnostics.planLint]]'s two error classes
  * (global window, trivially-true join) must stay absent, and no
  * CartesianProduct may appear — a broadcast flip or planner fallback
  * at 100× fails the probe rather than silently degrading.
  * Index-style parameters scale with the corpus the way the operator
  * scaladocs prescribe (nlist grows toward √N; band/bucket caps and df
  * caps unchanged — they bound work per KEY, not per corpus).
  *
  * Run: SPARK_DRIVER_MEM=48g sbt "Test/runMain graft.Scale100Probe"
  * Optional args select families so one leg can be re-measured without
  * repeating the rest: any of `dedup embed graph rows text warc` (no
  * args = all). Every leg reports a MEDIAN of SPARK_GRAFT_PROBE_RUNS
  * (default 3) builds with a blocking barrier between runs, so the
  * printed numbers are regression-pinnable, not one-shot.
  */
object Scale100Probe {
  def main(args: Array[String]): Unit = {
    val enabled: String => Boolean =
      fam => args.isEmpty || args.contains(fam)
    val spark = LocalSession.builder(32).config("spark.sql.shuffle.partitions", 64)
      .config("spark.local.dir", "/tmp/graft_scale100_local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val tmp = "/tmp/graft_scale100_tmp"

    // The 100-way unionAll replication is a BUILD step, not the probed
    // operator: left inline it dominates the probe with driver-side
    // Catalyst transforms (every downstream query re-optimizes a
    // 100-scan union tree). Materialize each replicated corpus to temp
    // parquet once so the probed plans start from a plain file scan —
    // exactly the shape the gates read their inputs in.
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }

    def pinPlan(label: String, df: DataFrame): Unit = {
      val errs = graft.operators.Diagnostics.planLint(df).collect()
        .filter { r =>
          val rule = r.getString(0)
          rule == "global-window" || rule == "trivial-join-predicate"
        }
      require(errs.isEmpty, s"$label: plan lint errors at 100x: " +
        errs.map(r => s"${r.getString(0)} -> ${r.getString(2)}").mkString("; "))
      val phys = df.queryExecution.executedPlan.toString
      require(!phys.contains("CartesianProduct"),
        s"$label: planner fell back to CartesianProduct at 100x")
    }
    // CONSTRUCTION is inside the timed window: the iterative operators
    // (pageRank, betweennessSampled, the greedy selectors) run their
    // materializing localCheckpoint actions while BUILDING the frame,
    // so timing only the final count would read near-zero for exactly
    // the operators this probe exists to measure.
    //
    // MEDIAN-of-N per leg (round-12 verdict #7): single-shot 100×
    // wall-clocks swung 1.6× run-to-run on this shared box (SCALE.md
    // re-run note), too noisy to serve as regression pins. Each leg
    // now rebuilds and re-runs `runs` times with the bench's blocking
    // barrier (unpersist + GC) between measurements and reports the
    // median plus the raw samples. SPARK_GRAFT_PROBE_RUNS=1 restores
    // the quick single-shot for exploratory runs.
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt.max(1)
    def time(label: String)(f: => DataFrame): Unit = {
      val samples = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val df = f
        val n = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (i == 1) pinPlan(label, df) // plan is run-invariant
        graft.core.CacheRegistry.unpersistAll() // barrier, untimed
        spark.catalog.clearCache()
        System.gc()
        (sec, n)
      }
      val sorted = samples.map(_._1).sorted
      val raw = samples.map(s => f"${s._1}%.1f").mkString("[", ",", "]")
      println(f"$label: ${sorted(runs / 2)}%.1fs runs=$raw rows=${samples.head._2}")
    }

    // -- corpora ----------------------------------------------------- //
    lazy val docs0 = spark.read.parquet(s"$d/documents.parquet")
    lazy val docs100 = mat((0 until 100).map(k =>
      docs0.select((col("doc_id") + k * 100000L).as("doc_id"),
        col("text"), col("lang")))
      .reduce(_ unionAll _).repartition(64), "docs100")

    if (enabled("dedup")) {
    println(s"docs100 count=${docs100.count()}")

    // q_dedup_minhash's operator: banding carries (id, band, bucket),
    // never documents; hot buckets star-link
    time("minhashPairs 500k docs")(
      Dedup.minhashPairs(docs100, "doc_id", "text", 2, 64, 16, 0.5))

    // q_dedup_incr_op's operator pair: index build + anti-join drop —
    // the standing corpus (400k docs) is indexed once, the new batch
    // (100k + planted copies) never joins documents
    locally {
      val old = docs100.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"))
      val copies = old.where(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
      val newBatch = docs100.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).unionAll(copies)
      val t0 = System.nanoTime()
      val index = graft.core.CacheRegistry.persist(
        Dedup.buildDedupIndex(old, "doc_id", "text", 2, 64, 16))
      val nIdx = index.count()
      val tIdx = (System.nanoTime() - t0) / 1e9
      val kept = Dedup.dropAgainstIndex(newBatch, index, "doc_id", "text", 2, 64, 16)
      pinPlan("dropAgainstIndex 100k-batch vs 400k-index", kept)
      val t1 = System.nanoTime(); val nKept = kept.count()
      println(f"buildDedupIndex 400k docs: $tIdx%.1fs rows=$nIdx")
      println(f"dropAgainstIndex 100k-batch vs 400k-index: " +
        f"${(System.nanoTime() - t1) / 1e9}%.1fs rows=$nKept")
      graft.core.CacheRegistry.unpersistAll()
    }
    } // enabled("dedup")

    if (enabled("embed")) {
    val emb0 = spark.read.parquet(s"$d/embeddings.parquet")
    val emb100 = mat((0 until 100).map(k =>
      emb0.select((col("vec_id") + k * 100000L).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _).repartition(64), "emb100")
    println(s"emb100 count=${emb100.count()}")

    // q_semdedup_knn's operator: ANN kNN-graph candidates, exact
    // verification, min-id survivor — nlist scaled toward √N (FAISS
    // guidance): 200k vectors → nlist 448, fan-out bounded at k·nprobe
    // (candidate work is Σ_cell probers·members — the replicated
    // corpus stacks 100 exact copies per cell, so under-scaling nlist
    // multiplies every cell's member count; measured 128 → 448 cuts
    // the pair frame ~3.5×)
    time("semanticDedupViaKnnGraph 200k embeddings nlist=448")(
      Dedup.semanticDedupViaKnnGraph(emb100, "vec_id", "embedding",
        0.35, k = 8, nlist = 448, nprobe = 8))

    // q_sim_ivf's operator: 100 broadcast queries against the 200k
    // corpus through the cell-partitioned index
    time("ivfTopK 100 queries vs 200k corpus nlist=128")(
      Similarity.ivfTopK(
        emb0.where(col("vec_id") < 100).select(col("vec_id"), col("embedding")),
        emb100, "vec_id", "embedding", k = 10, nlist = 128, nprobe = 8))

    // q_sim_ivfpq's operator: the one-shot build + ADC probe — the
    // round-14 single-sample build must read the projected corpus
    // exactly twice (shared training sample + assign/encode; spec-
    // pinned), and the probe touches codes, never float vectors
    time("ivfPqTopK 100 queries vs 200k corpus nlist=128 m=16")(
      Similarity.ivfPqTopK(
        emb0.where(col("vec_id") < 100).select(col("vec_id"), col("embedding")),
        emb100, "vec_id", "embedding", k = 10, nlist = 128, nprobe = 8,
        m = 16, kSub = 64))
    } // enabled("embed")

    // -- 100x trade graph: 117M directed edges ------------------------ //
    lazy val li = spark.read.parquet(s"$d/lineitem.parquet")
    if (enabled("graph")) {
    val ord = spark.read.parquet(s"$d/orders.parquet")
    val pairs0 = ord.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp")).distinct()
    val half100 = (0 until 100).map(k =>
      pairs0.select(
        ((col("cust") + k * 1000000L) * 2).as("src"),
        ((col("supp") + k * 1000000L) * 2 + 1).as("dst")))
      .reduce(_ unionAll _)
    val graph100 = mat(half100
      .unionAll(half100.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(64), "graph100")
    println(s"graph100 edges=${graph100.count()}")

    time("pageRank 3 iters on 117M directed edges")(
      Graph.pageRank(graph100, "src", "dst", iters = 3))
    // Seed-pair betweenness on 100 DISJOINT copies is semantically
    // empty (8 random seeds land in 8 different components, so no
    // seed pair is co-reachable — verified: rows=0); the CONNECTED
    // 100× graph replicates the supplier side only (customers shared)
    // so volume scales 100× inside one component.
    val halfConn = (0 until 100).map(k =>
      pairs0.select((col("cust") * 2).as("src"),
        ((col("supp") + k * 1000000L) * 2 + 1).as("dst")))
      .reduce(_ unionAll _)
    val graphConn = mat(halfConn
      .unionAll(halfConn.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(64), "graphConn")
    println(s"graphConn edges=${graphConn.count()}")
    time("betweennessSampled 8 seeds maxHops=3 on 117M connected edges")(
      Graph.betweennessSampled(graphConn, col("src"), col("dst"),
        nSeeds = 8, maxHops = 3, k = 50))
    } // enabled("graph")

    if (enabled("rows")) {
    // q_chatterjee's operator: exact rank statistic over 60M rows —
    // range-partitioned prefix sums + a rank equi-join, no global window
    val li100 = mat((0 until 100).map(k =>
      li.select((col("l_orderkey") + k * 10000000L).as("ok"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice")))
      .reduce(_ unionAll _).repartition(64), "li100")
    time("chatterjeeXi 60M rows")(
      Analytics.chatterjeeXi(li100,
        col("ok") * 10 + col("l_linenumber"),
        col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")))
    } // enabled("rows")

    if (enabled("text")) {
    // -- 100x text family: the operators behind q_tfidf / q_bm25_search
    // and q_bpe — the heavy text tail the 100× evidence didn't yet
    // cover. termScores is the scan-shuffle shape (tokenize+explode →
    // one persisted tf aggregate read by three consumers → broadcast
    // 1-row stats); BPE training is corpus-scan bound: the distributed
    // part is one word-count groupBy capped at maxVocab=65536 rows to
    // the driver, so the Sennrich merge loop's cost is INVARIANT to
    // corpus size — the 100× number proves the claim.
    println(s"docs100 count=${docs100.count()}")
    time("termScores (tfidf+bm25) 500k docs")(
      graft.operators.Ranking.termScores(docs100, "doc_id", "text"))
    locally {
      val t0 = System.nanoTime()
      val merges = graft.functions.Bpe.learnMerges(
        docs100.select(explode(
          graft.functions.TextFunctions.words(col("text"))).as("w")),
        "w", numMerges = 200)
      println(f"bpe learnMerges 500k docs (200 merges, 64k vocab cap): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs merges=${merges.size}")
    }
    // web ingestion kernels: pure per-row codegen — the probe pins
    // that 500k messy urls + full-page html extraction stay scan-bound
    // (the agg consumer defeats column pruning, so the kernels run)
    time("urlNormalize + htmlText 500k docs")(
      docs100.select(
        graft.functions.UrlFunctions.urlNormalize(concat(
          lit("HTTP://WWW."), col("lang"), lit(".example.com:80/d/"),
          (col("doc_id") % 97).cast("string"),
          lit("?utm_source=x&b=2&a=1#f"))).as("u"),
        graft.functions.UrlFunctions.htmlText(concat(
          lit("<html><head><script>var a=1;</script></head><body><p>"),
          col("text"), lit("</p></body></html>"))).as("t"),
        graft.functions.UrlFunctions.htmlLinks(concat(
          lit("<html><body><a href=\"http://t"),
          (col("doc_id") % 997).cast("string"),
          lit(".example.com/p?x=1&amp;y=2\">l</a><p>"), col("text"),
          lit("</p></body></html>"))).as("l"))
        .agg(count(col("u")).as("n_urls"),
          sum(length(col("t"))).as("html_chars"),
          sum(size(col("l"))).as("n_links")))
    // WARC ingestion at 100×: 500k synthetic 3-record blobs → 1.5M
    // record rows, narrow encode + narrow split, no shuffle until the
    // final count aggregate
    time("warc encode + record split 500k blobs")(
      graft.sources.Warc.warcRecords(
        graft.sources.Warc.attachSyntheticWarc(
          docs100.select(col("doc_id"), col("text")),
          lit(3),
          concat(lit("http://d"), (col("doc_id") % 1000).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string")),
          col("text")),
        "doc_id", "warc")
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("payload_bytes")))
    } // enabled("text")

    if (enabled("warc")) {
    // -- offset-splitting reader on ONE large WARC file --------------- //
    // The file-per-task reader serializes a big WARC onto one task;
    // warcRecordsFiles must instead spread ONE file over many
    // byte-range tasks. Build a single ~100 MB, 100k-record file
    // (driver-side stream write, untimed build step like mat()), then
    // time the range-split read — and REQUIRE the multi-task shape.
    val warcPath = new java.io.File(tmp, "big.warc")
    locally {
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(warcPath), 1 << 20)
      val it = docs100.where(col("doc_id") < 2000000L)
        .select(col("doc_id"), col("text")).toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        out.write(graft.sources.Warc.warcEncode(1,
          s"http://d${r.getLong(0) % 1000}.example.com/p/${r.getLong(0)}",
          r.getString(1).getBytes("UTF-8")))
        n += 1
      }
      out.close()
      println(s"big.warc records=$n bytes=${warcPath.length()}")
    }
    locally {
      val split = 4L << 20
      val rec = graft.sources.Warc.warcRecordsFiles(
        spark, warcPath.getAbsolutePath, splitBytes = split)
      val wantTasks = (warcPath.length() + split - 1) / split
      require(rec.rdd.getNumPartitions == wantTasks && wantTasks >= 8,
        s"warcRecordsFiles: expected >=8 range tasks over one file, got " +
          s"${rec.rdd.getNumPartitions}")
      println(s"warcRecordsFiles tasks=$wantTasks over 1 file")
    }
    time("warcRecordsFiles 100k-record single file, 4MB ranges")(
      graft.sources.Warc.warcRecordsFiles(
        spark, warcPath.getAbsolutePath, splitBytes = 4L << 20)
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("payload_bytes")))
    } // enabled("warc")

    spark.stop()
    def rmrf(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File("/tmp/graft_scale100_local"))
    rmrf(new java.io.File(tmp))
  }
}
