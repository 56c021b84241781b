package graft

import graft.operators.{Dedup, Ranking, TrainingData}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions for the round-4 operators: the scale
  * claims ("broadcast bounds join", "TakeOrdered top-k, never a global
  * sort", "no nested-loop candidate generation", "no single-partition
  * window") are properties of the PLAN, so pin them against the plan —
  * a regression that silently flips a broadcast to a shuffle or a
  * heap-k to a global sort should fail a test, not a bench run.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = {
    df.collect() // let AQE finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  /** Only the AQE final plan — node COUNTS must not double-count the
    * `== Initial Plan ==` rendering.
    */
  private def finalPlan(df: DataFrame): String = {
    val p = plan(df)
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta epsilon"),
    (3L, "zeta eta theta iota kappa lambda")
  ).toDF("doc_id", "text")

  test("topNgrams uses TakeOrderedAndProject, not a global sort") {
    val p = plan(Ranking.topNgrams(docs, "text", 2, 5))
    assert(p.contains("TakeOrderedAndProject"))
    // no full-result Sort node anywhere in the tree (tree lines render
    // as "+- Sort", ":- Sort", or "+- *(2) Sort" — never "\nSort")
    assert(!p.linesIterator.exists(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Sort .*""")))
  }

  test("winsorize clips through a broadcast join of the bounds row") {
    val df = (1 to 50).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val p = plan(TrainingData.winsorize(df, Seq("g"), col("v"), 0.1, 0.9))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("deterministicShuffle has no window and no cartesian anywhere") {
    val p = plan(TrainingData.deterministicShuffle(docs, col("doc_id")))
    assert(!p.contains("Window"))
    assert(!p.contains("Cartesian"))
  }

  test("span-dup and containment candidate generation never falls back to nested loops") {
    val p1 = plan(Dedup.duplicateSpanFraction(docs, "doc_id", "text", 2))
    val p2 = plan(Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.1))
    Seq(p1, p2).foreach { p =>
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
    }
    graft.core.CacheRegistry.unpersistAll()
  }

  test("funnel plans exactly one exchange, hashed on the user key") {
    val ev = (1 to 50).map(i => (i.toLong % 5, i.toLong, "a")).toDF("u", "sec", "et")
      .select(col("u"), col("sec").cast("timestamp").as("ts"), col("et"))
    val p = finalPlan(graft.operators.Analytics.funnel(
      ev, col("u"), col("ts"), col("et"), Seq("a")))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    // the fold reads a secondary-sorted iterator: Sort rides the same
    // exchange, and MapGroups carries the sort order spec
    assert(p.contains("MapGroups") && p.contains("ASC NULLS FIRST"))
  }

  test("ewma plans exactly one exchange, hashed on the key, sorted fold") {
    val ev = (1 to 60).map(i => (i.toLong % 4, i.toLong, i.toDouble)).toDF("k", "id", "v")
    val p = finalPlan(graft.operators.Analytics.ewma(
      ev, col("k"), Seq(col("id")), col("id"), col("v"), alpha = 0.25))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    assert(p.contains("MapGroups") && p.contains("ASC NULLS FIRST"))
    assert(!p.contains("Window"))
  }

  test("removeDuplicateSpans: gram joins hash, coverage anti-join, no window") {
    val p = plan(Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 2))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // text order is rebuilt by sort_array over (pos, word) structs —
    // never a single-partition window
    assert(!p.contains("Window"))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("distinctRollup scans its input once: cascade rides the cached base") {
    val df = (1 to 40).map(i => (s"g${i % 3}", s"d${i % 5}", i.toLong)).toDF("g", "d", "u")
    val out = graft.operators.Sketches.distinctRollup(
      df, Seq("g" -> col("g"), "d" -> col("d")), col("u"), lgK = 12)
    val p = plan(out)
    // all 3 union branches read the CACHED base sketch frame.
    // TableCacheQueryStage nodes exist only in the final AQE plan
    // (InMemoryRelation re-prints of the build plan never carry one),
    // so their count is exactly the number of cache reads.
    assert(p.linesIterator.count(_.contains("TableCacheQueryStage")) == 3)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("zorderBy plans a range partitioning on the Morton key") {
    val df = (1 to 100).map(i => (i.toLong % 16, i.toLong / 16)).toDF("x", "y")
    val p = plan(graft.operators.Layout.zorderBy(df, 4, Seq(col("x"), col("y"))))
    assert(p.contains("rangepartitioning(zval"))
    assert(!p.contains("Cartesian"))
  }

  test("linkageJoin is an equi-join on the block key, never a nested loop") {
    val l = (1 to 40).map(i => (i.toLong, i % 4, s"name $i")).toDF("id", "b", "s")
    val r = (1 to 40).map(i => (i.toLong, i % 4, s"name ${i + 1}")).toDF("rid", "rb", "rs")
    val p = finalPlan(Dedup.linkageJoin(l, r, Seq(col("b") -> col("rb")),
      col("s"), col("rs"), 0.5))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the jw verify rides the join condition, not a separate pass:
    // exactly one join node in the final tree
    assert(p.linesIterator.count(l0 => l0.contains("HashJoin") || l0.contains("SortMergeJoin")) == 1)
  }

  test("blocked linkage pins an explicit probe-side exchange before the join") {
    // broadcast joins inherit the probe side's partitioning — without a
    // pinned repartition on the block keys, a one-file scan serializes
    // every |block|² kernel call onto ONE task (measured 8s single-task
    // vs 1.2s spread at sf0.1). The plan must carry the explicit
    // exchange whatever join strategy Catalyst picks.
    val cust = (1 to 60).map(i => (i.toLong, i % 3, s"name $i")).toDF("id", "b", "s")
    val pEdit = finalPlan(Dedup.editDistanceLink(cust, col("b"), col("id"),
      col("s"), maxDist = 2))
    assert(pEdit.contains("REPARTITION_BY_NUM"),
      s"editDistanceLink lost its probe-side exchange:\n$pEdit")
    val r = (1 to 60).map(i => (i.toLong, i % 3, s"name ${i + 1}")).toDF("rid", "rb", "rs")
    val pJaro = finalPlan(Dedup.linkageJoin(cust, r, Seq(col("b") -> col("rb")),
      col("s"), col("rs"), 0.5))
    assert(pJaro.contains("REPARTITION_BY_NUM"),
      s"linkageJoin lost its probe-side exchange:\n$pJaro")
  }

  test("groupedExactQuantiles is one window pass: no join, no per-prob union") {
    val df = (1 to 100).map(i => (i % 3, i.toLong)).toDF("g", "v")
    val out = graft.operators.Analytics.groupedExactQuantiles(
      df, col("g"), col("v"), Seq(0.25, 0.5, 0.75))
    val p = finalPlan(out)
    assert(!p.contains("Join"), s"per-prob join crept back in:\n$p")
    assert(!p.contains("Union"), s"per-prob union crept back in:\n$p")
    // exactly two exchanges: the (group, value) count aggregate and ONE
    // window exchange that BOTH the running sum and the group total ride
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"quantile CDF should need exactly two exchanges:\n$p")
    // the two Window nodes are adjacent — no exchange between them
    val lines = p.linesIterator.toVector
    val winIdx = lines.zipWithIndex.filter(_._1.contains("Window [")).map(_._2)
    assert(winIdx.size == 2 && (winIdx(1) - winIdx(0)).abs == 1,
      s"the group-total window must ride the CDF window's exchange:\n$p")
  }

  test("paragraph dedup reassembly never plans a single-partition window") {
    val paras = (1 to 60).map(i => (i.toLong % 6, i.toLong, s"para $i"))
      .toDF("doc_id", "pos", "para")
    val p = plan(Dedup.dropDuplicateParagraphs(paras, "doc_id", "pos", "para"))
    // windowed first-owner min partitions by fingerprint — a global
    // (empty-key) window would collapse to one partition
    assert(!p.contains("Window [") || p.contains("windowspecdefinition(_fp"))
    assert(p.contains("hashpartitioning(_fp") || p.contains("hashpartitioning(id"))
  }

  test("budgetSelect plans a range exchange, never a window or cartesian") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong % 7)).toDF("id", "toks")
    val out = TrainingData.budgetSelect(df, Seq(col("id")), col("toks"), 100L)
    val p = plan(out)
    assert(!p.contains("Window")) // the running sum must NOT be a window
    assert(!p.contains("Cartesian"))
    // the global order is a range repartition (the scan side of the
    // RDD cumsum pass), visible as a rangepartitioning exchange
    assert(out.queryExecution.analyzed.toString.nonEmpty) // plan built lazily
    val sortedPlan = df.withColumn("_tok", col("toks"))
      .repartitionByRange(col("id")).queryExecution.executedPlan.toString
    assert(sortedPlan.contains("rangepartitioning"))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("snapshotDiff joins fingerprints only — no text column crosses the join") {
    val v1 = (1 to 40).map(i => (i.toLong, s"text number $i")).toDF("id", "text")
    val v2 = (3 to 42).map(i => (i.toLong, s"text number $i")).toDF("id", "text")
    val out = graft.operators.Quality.snapshotDiff(v1, v2, "id", "text")
    val p = finalPlan(out)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"))
    // column pruning: the join's output schema carries fingerprints,
    // never the text payload
    val joinLines = p.linesIterator.filter(l => l.contains("Join")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(!_.contains("text#")))
  }

  // ---- events family (the time/window/as-of operators): these pins
  // did not exist while the events gate queries were broken, which is
  // exactly when a plan regression would have gone unnoticed.

  test("asOfJoin is one keyed window pass — no join node, no single-partition window") {
    val l = (1 to 60).map(i => (i.toLong % 5, i.toLong * 10)).toDF("k", "ts")
    val r = (1 to 30).map(i => (i.toLong % 5, i.toLong * 17, i.toDouble)).toDF("k", "rts", "v")
    val p = finalPlan(graft.operators.Relational.asOfJoin(
      l, r, "k", "ts", "rts", Seq("v")))
    // the point-in-time match is a tagged union + window, NEVER a
    // range join (no join node of any kind in the plan)
    assert(!p.contains("Join"))
    assert(p.contains("Window"))
    // the window partitions on the key — an empty partition spec would
    // collapse all events onto one task
    assert(p.contains("windowspecdefinition(k#"))
    assert(p.contains("hashpartitioning(k#"))
  }

  test("sessionize windows partition on the session key, one exchange") {
    val ev = (1 to 80).map(i => (i.toLong % 4, i.toLong * 100)).toDF("u", "sec")
      .select(col("u"), col("sec").cast("timestamp").as("ts"))
    val p = finalPlan(graft.operators.Relational.sessionize(
      ev, col("u"), col("ts"), gapSeconds = 300L))
    assert(p.contains("windowspecdefinition(u#"))
    // lag and the conditional cumsum ride the SAME keyed exchange
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("binnedRangeJoin is an equi hash join on the bin id, never a nested loop") {
    val iv = (1 to 40).map(i => (i.toLong * 10, i.toLong * 10 + 15, i)).toDF("lo", "hi", "iid")
    val pt = (1 to 200).map(i => (i.toLong * 3, i)).toDF("p", "pid")
    val p = finalPlan(graft.operators.Relational.binnedRangeJoin(
      iv, "lo", "hi", pt, "p", binWidth = 20L))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // candidates meet on the bin id equi-key; the exact range predicate
    // verifies candidates inside the join, not in a later filter pass
    assert(p.contains("hashpartitioning(_bin") || p.contains("BroadcastHashJoin"))
  }

  test("tumblingCountWindow rides a distributed range sort, no single-partition window") {
    val ev = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val p = plan(graft.operators.Relational.tumblingCountWindow(
      ev, Seq(col("id")), size = 10, Seq(sum(col("v")).as("s"))))
    // no empty-partition-spec WindowExec anywhere (the numbering is a
    // per-partition zipWithIndex over the range-sorted RDD, so the
    // final plan has no Window node at all)
    assert(!p.contains("Window"))
    // the ordering stage itself is a range repartition: each partition
    // numbers its own slice (the index pass hides inside an RDD scan,
    // so pin the sorted stage the operator builds)
    val sortedPlan = ev.repartitionByRange(col("id"))
      .sortWithinPartitions(col("id")).queryExecution.executedPlan.toString
    assert(sortedPlan.contains("rangepartitioning"))
  }

  test("shipmentSla is one shuffle-on-order-key aggregate joined back to orders") {
    val os = (1 to 40).map(i => (i.toLong, i.toLong * 100, 2)).toDF("ok", "sec", "expected")
      .select(col("ok"), col("sec").cast("timestamp").as("ots"), col("expected"))
    val sh = (1 to 80).map(i => (i.toLong % 40 + 1, i.toLong * 40)).toDF("ok", "sec")
      .select(col("ok"), col("sec").cast("timestamp").as("sts"))
    val p = finalPlan(graft.operators.Relational.shipmentSla(
      os, sh, "ok", "ots", "expected", "sts", slaDays = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // per-order shipment state is ONE hash aggregate (count + sorted
    // list), not a window over the event stream
    assert(!p.contains("Window"))
  }

  test("fused sketch kernels run inside whole-stage codegen") {
    // a real scan (not a LocalTableScan, which constant-folds the
    // whole projection) so the codegen stage is visible in the plan
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(real.select(
      graft.functions.HashFunctions.simhash64Fused(
        graft.functions.TextFunctions.words(col("text"))).as("s")))
    // the `*(n)` prefix is the whole-stage-codegen marker; a lambda
    // anywhere in the tokenizer would strip it (HOFs are
    // CodegenFallback), which is exactly the regression this pins
    assert(p.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Project .*simhash64.*""")))
  }

  test("url kernels run inside whole-stage codegen") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(real.select(
      graft.functions.UrlFunctions.urlNormalize(
        concat(lit("http://"), col("source"), lit(".com/x?b=2&a=1"))).as("u")))
    assert(p.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Project .*url_normalize.*""")))
    assert(!p.contains("CodegenFallback"))
    // a NON-nullable child (coalesce over a literal) must not knock the
    // stage out of codegen: the kernels pin nullable=true because their
    // doGenCode assigns ev.isNull, which must stay an lvalue
    val p2 = plan(real.select(
      graft.functions.UrlFunctions.htmlText(
        coalesce(col("text"), lit("<i>x</i>"))).as("t")))
    assert(p2.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Project .*html_text.*""")))
    assert(!p2.contains("CodegenFallback"))
    // the round-13 kernels — reference resolution and the charset
    // chain — stay in the same codegen span
    val p3 = plan(real.select(
      graft.functions.UrlFunctions.urlResolve(
        concat(lit("http://"), col("source"), lit(".com/a/b.html")),
        lit("../g")).as("r"),
      graft.functions.UrlFunctions.decodeText(
        encode(col("text"), "ISO-8859-1"),
        coalesce(
          graft.functions.UrlFunctions.charsetParam(lit("text/html")),
          graft.functions.UrlFunctions.sniffCharset(
            encode(col("text"), "ISO-8859-1")),
          lit("utf-8"))).as("t")))
    assert(p3.linesIterator.exists(l => l.trim.matches("""\*\(\d+\) Project .*url_resolve.*""")))
    assert(p3.contains("decode_text") && p3.contains("sniff_charset"))
    assert(!p3.contains("CodegenFallback"))
  }

  test("weightedSample global path is TakeOrderedAndProject, never a full sort") {
    val df = (1 to 200).map(i => (i.toLong, (i % 9 + 1).toLong)).toDF("id", "w")
    val p = plan(TrainingData.weightedSample(df, col("id"), col("w"), k = 10))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.linesIterator.exists(l => l.trim.matches("""[+\-:*\s()\d]*Sort .*""")))
  }

  test("scd2Merge joins only the current slice; closed history unions past the join") {
    val hist = (1 to 60).map(i =>
      (i.toLong, s"v$i", 0L, if (i % 3 == 0) Some(5L) else None))
      .toDF("k", "attr", "valid_from", "valid_to")
    val snap = (1 to 60).map(i => (i.toLong, s"v${i * 2}")).toDF("k", "attr")
    val out = graft.operators.Quality.scd2Merge(hist, snap, Seq("k"), Seq("attr"), asOf = 9L)
    val p = finalPlan(out)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly one join in the whole merge (the current-vs-snapshot one)
    assert(p.linesIterator.count(l => l.contains("Join")) == 1)
    // the closed-history leg is filter + union, no exchange feeding it:
    // the union node sits above the join but the passthrough side is a
    // plain filter over the input
    assert(p.contains("Union"))
  }

  test("histogram is one hash aggregate on (group, bin) plus a spine join") {
    val df = (1 to 500).map(i => ("g" + i % 3, BigDecimal(i % 97)))
      .toDF("g", "v")
    val out = graft.operators.Analytics.histogram(
      df, Seq(col("g")), col("v"), BigDecimal(0), BigDecimal(10), 10)
    val p = finalPlan(out)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"))
    // bin math stays in whole-stage codegen (no UDF / fallback node)
    assert(!p.contains("BatchEvalPython") && !p.contains("CodegenFallback"))
  }

  test("lmScore shuffles carry grams and counts, never document text") {
    val corpus = (1 to 40).map(i => (i.toLong, s"alpha beta word$i gamma")).toDF("id", "text")
    val probe = (1 to 10).map(i => (i.toLong, s"alpha beta delta word$i")).toDF("id", "text")
    val out = TrainingData.lmScore(corpus, probe, "id", "text")
    val p = finalPlan(out)
    assert(!p.contains("Cartesian"))
    // the ONLY nested-loop join allowed is the broadcast of the 1-row
    // vocab scalar (a cross join by construction); the count tables
    // must join hashed on the gram key
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1)
    // no raw text column crosses any exchange: text is consumed by the
    // shingle projection before the first shuffle
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(!_.contains("text#")))
  }

  test("dsirWeights joins the bounded count tables as broadcasts") {
    val raw = (1 to 40).map(i => (i.toLong, s"alpha beta word$i gamma")).toDF("doc_id", "text")
    val tgt = (1 to 10).map(i => (100L + i, "alpha beta gamma")).toDF("doc_id", "text")
    val out = TrainingData.dsirWeights(raw, tgt, "doc_id", "text")
    val p = finalPlan(out)
    assert(!p.contains("Cartesian"))
    // ct and cr are <= buckets rows by construction: both must arrive
    // broadcast, never shuffled onto the token stream
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
    // only nested loops allowed: the 1-row totals construction (tr × tt)
    // and its scalar cross join onto the token stream
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2)
    // raw text never crosses an exchange — features do
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(!_.contains("text#")))
  }

  test("rollingZscore fuses all trailing aggregates into one Window node") {
    val df = (1 to 100).map(i => ("k", i.toLong, (i % 7).toLong)).toDF("k", "i", "v")
    val out = graft.operators.Analytics.rollingZscore(
      df, Seq(col("k")), Seq(col("i")), col("v"), window = 10)
    val p = finalPlan(out)
    // n, S, Q share one frame: exactly one Window node, one exchange
    assert(p.linesIterator.count(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Window .*""")) == 1)
    assert(p.linesIterator.count(_.contains("Exchange")) == 1)
  }

  test("abTest arm slices join broadcast, never sort-merge") {
    val rows = (1 to 400).map(i => (s"g${i % 3}", i % 2, (i % 17).toLong))
    val out = graft.operators.Analytics.abTest(
      rows.toDF("g", "arm", "v"), Seq(col("g")), col("arm"), col("v"), "0", "1")
    val p = finalPlan(out)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"))
  }

  test("transitionMatrix: one window, totals arrive broadcast") {
    val rows = (1 to 300).map(i => (i % 20L, i.toLong, s"e${i % 5}"))
    val out = graft.operators.Analytics.transitionMatrix(
      rows.toDF("u", "i", "e"), col("u"), Seq(col("i")), col("e"))
    val p = finalPlan(out)
    assert(p.linesIterator.count(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Window .*""")) == 1)
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("cooccurrence pair join shuffles narrow basket-item rows, no cartesian") {
    val rows = (1 to 200).flatMap(b => (0 until 4).map(i => (b.toLong, s"it${(b + i) % 20}")))
    val out = graft.operators.Analytics.cooccurrence(
      rows.toDF("b", "i"), col("b"), col("i"))
    val p = finalPlan(out)
    assert(!p.contains("Cartesian"))
    // the a<b condition is a join FILTER on the basket-key equi-join,
    // not a nested-loop predicate
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).forall(_.contains("Cross")))
  }

  // ---- round-7 additions ------------------------------------------- //

  test("expandingDistinct: both windows ride ONE key exchange") {
    val rows = (1 to 400).map(i => (i % 8L, s"v${i % 30}", i.toLong))
    val out = graft.operators.Analytics.expandingDistinct(
      rows.toDF("k", "v", "o"), col("k"), col("v"), col("o"))
    val p = finalPlan(out)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(p.linesIterator.count(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Window .*""")) == 2)
  }

  test("skewReport: no sort-merge join, no window — rank rides the prefix-sum RDD") {
    val rows = (1 to 500).map(i => s"k${i % 40}").toDF("k")
    val df = graft.operators.Diagnostics.skewReport(
      rows, Seq(col("k")), topK = 5, partitions = 8)
    val p = finalPlan(df)
    assert(!p.contains("SortMergeJoin"))
    // the topK rank comes from Relational.prefixSum (an RDD boundary
    // in the final plan), not a no-partition window
    assert(!p.contains("Window"))
    // ranks are the contiguous 1..topK order despite no window
    assert(df.select("rnk").as[Int].collect().toSeq == (1 to 5))
  }

  test("prefixDups: windowless successor pairing, no cartesian, no re-sort") {
    val rows = (1 to 300).map(i => (i.toLong, s"text body number $i")).toDF("doc_id", "text")
    // the distributed route (this frame is small enough to route local)
    val p = finalPlan(graft.operators.Relational.withLocalRoute(local = false)(
      graft.operators.Dedup.prefixDups(rows, col("text"), partitions = 4)))
    assert(!p.contains("Cartesian"))
    // successor pairing is a narrow mapPartitions over the checkpointed
    // range-sorted layout — a Window here would re-shuffle AND re-sort
    assert(!p.contains("Window"))
    assert(!p.linesIterator.exists(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Sort .*""")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("prefixDups local route: one lazy single-partition sort, no exchange before the pairing") {
    val rows = (1 to 300).map(i => (i.toLong, s"text body number $i")).toDF("doc_id", "text")
    val df = graft.operators.Relational.withLocalRoute(local = true)(
      graft.operators.Dedup.prefixDups(rows, col("text")))
    // lazy: no checkpointed RDD scan, no range partitioning, no repair
    // join — the whole route is in the plan
    val built = df.queryExecution.executedPlan.toString
    assert(!built.contains("ExistingRDD") && !built.contains("rangepartitioning"))
    val p = finalPlan(df)
    assert(!p.contains("Window") && !p.contains("Cartesian"))
    // the rows are sorted by text in ONE partition: Coalesce 1 feeds
    // exactly one Sort, and no aggregate or join follows it
    assert(p.contains("Coalesce 1"))
    val sorts = p.linesIterator.count(_.matches(""".*(\+-|:-) (\*\(\d+\) )?Sort .*"""))
    assert(sorts == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p)
  }

  test("gini ranks without any window node (globalIndex, not row_number)") {
    val rows = (1 to 300).map(i => (s"k${i % 30}", i.toLong)).toDF("k", "v")
    val p = finalPlan(graft.operators.Analytics.gini(rows, col("k"), col("v")))
    assert(!p.contains("Window"))
    assert(!p.contains("Cartesian"))
  }

  test("mutualInfo joins marginals broadcast, never sort-merge") {
    val rows = (1 to 400).map(i => (s"x${i % 5}", i % 3L)).toDF("x", "y")
    val p = finalPlan(graft.operators.Analytics.mutualInfo(rows, col("x"), col("y")))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("timeWeightedAvg: the lead window's key exchange feeds the aggregate") {
    val rows = (1 to 300).map(i => (i % 6L, i.toLong * 1000L, i.toDouble))
      .toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    val p = finalPlan(graft.operators.Analytics.timeWeightedAvg(
      rows, col("k"), col("ts"), col("v")))
    // one exchange total: window on k, then groupBy(k) reuses the layout
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("joinSizeEstimate never shuffles a keyspace: two 1-row sketch aggs, broadcast cross") {
    val a = (1 to 200).map(i => s"k${i % 50}").toDF("k")
    val b = (1 to 100).map(i => s"k${i % 25}").toDF("k")
    val p = finalPlan(graft.operators.Sketches.joinSizeEstimate(a, col("k"), b, col("k")))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange hashpartitioning")) // only the 1-row agg exchanges
  }

  test("asOfJoinNearest: still ONE keyed window pass — nearest adds no join") {
    val l = (1 to 60).map(i => (i.toLong % 5, i.toLong * 10)).toDF("k", "ts")
    val r = (1 to 30).map(i => (i.toLong % 5, i.toLong * 17, i.toDouble)).toDF("k", "rts", "v")
    val p = finalPlan(graft.operators.Relational.asOfJoinNearest(
      l, r, "k", "ts", "rts", Seq("v")))
    assert(!p.contains("Join"))
    assert(p.contains("windowspecdefinition(k#"))
    // both direction fills share one keyed exchange
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("islands windows per key over the DISTINCT frame, never globally") {
    val df = (1 to 100).map(i => (i.toLong % 4, (i / 3).toLong)).toDF("k", "d")
    val p = finalPlan(graft.operators.Relational.islands(df, col("k"), col("d")))
    assert(p.contains("windowspecdefinition(_k#"))
    assert(!p.contains("SinglePartition"))
  }

  test("averagePrecision: the ranked CDF has no Window node and no cartesian") {
    val df = (1 to 200).map(i => (i.toLong, (i % 3 == 0))).toDF("s", "y")
    val p = finalPlan(graft.operators.Analytics.averagePrecision(
      df, col("y").cast("long"), col("s"), Seq(col("s"))))
    // rank + cum-positives ride prefixSums (range sort + narrow pass),
    // NEVER a no-partition row_number window
    assert(!p.contains("Window"))
    assert(!p.contains("Cartesian"))
  }

  test("commonNeighborPairs: postings self-join hashes on the destination") {
    val e = (1 to 120).map(i => (i.toLong % 20, i.toLong % 7)).toDF("s", "d")
    val p = finalPlan(graft.operators.Graph.commonNeighborPairs(
      e, col("s"), col("d"), maxDeg = 50, k = 10))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"))
    // top-k is a TakeOrdered, not a global sort of all pairs
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("modularity: label joins plus two aggregates, no cartesian blowup") {
    val und = (1 to 60).map(i => (i.toLong, (i % 30 + 1).toLong))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = (1L to 60L).map(n => (n, (n % 4).toString)).toDF("node", "comm")
    val p = finalPlan(graft.operators.Graph.modularity(
      edges, col("src"), col("dst"), labels, col("node"), col("comm")))
    assert(!p.contains("Cartesian"))
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross")))
  }

  test("crossCorr lag alignment is a hash join: no window, no sort, no loop") {
    val series = (1 to 60).map(i => (i.toLong, i.toLong * 3, i.toLong % 7))
      .toDF("t", "x", "y")
    val p = finalPlan(graft.operators.Analytics.crossCorr(
      series, col("t"), col("x"), col("y"), Seq(-1, 0, 1)))
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // every lag rides ONE exploded equi-join on tick arithmetic
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("paretoFrontier2d dominance is equi/semi joins over the per-x frame") {
    val pts = (1 to 80).map(i => (i.toLong % 9, i.toLong % 13)).toDF("x", "y")
    val p = finalPlan(graft.operators.Relational.paretoFrontier2d(
      pts, col("x"), col("y")))
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("termBurstiness top-k is a TakeOrdered over the per-term frame") {
    val p = finalPlan(Ranking.termBurstiness(docs, col("doc_id"),
      col("text"), k = 5))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Window"))
  }
}
