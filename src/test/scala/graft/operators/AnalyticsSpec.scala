package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("groupedLinearFit: exact closed-form fit, degenerate groups yield null") {
    val df = Seq(
      ("g", 0L, "1.00"), ("g", 1L, "3.00"), ("g", 2L, "5.00"), // y = 2x + 1 exactly
      ("one", 7L, "4.00"),                                     // single point
      ("flat", 5L, "1.00"), ("flat", 5L, "2.00"),              // zero x-variance
      ("const", 1L, "3.00"), ("const", 2L, "3.00")             // zero y-variance
    ).toDF("grp", "x", "ys")
      .select(col("grp"), col("x"), col("ys").cast("decimal(18,2)").as("y"))
    val out = Analytics.groupedLinearFit(df, Seq(col("grp")), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out("g") == ((3L, Some(2.0d), Some(1.0d), Some(1.0d)))) // exact doubles
    assert(out("one") == ((1L, None, None, None)))
    assert(out("flat") == ((2L, None, None, None)))
    // zero y-variance: slope/intercept are defined (0, 3), r2 is not
    assert(out("const") == ((2L, Some(0.0d), Some(3.0d), None)))
  }

  test("groupedCorrMatrix: perfect/anti/zero-variance pairs, listwise deletion") {
    val df = Seq(
      // g: y = 2x (r=1), z = -x (r(x,z) = -1, r(y,z) = -1), c constant
      ("g", "1.00", "2.00", "-1.00", "5.00"),
      ("g", "2.00", "4.00", "-2.00", "5.00"),
      ("g", "3.00", "6.00", "-3.00", "5.00"),
      // one row with a null metric: dropped listwise everywhere
      ("g", "9.00", null, "9.00", "9.00")
    ).toDF("grp", "x", "y", "z", "c")
      .select(col("grp"), col("x").cast("decimal(18,2)").as("x"),
        col("y").cast("decimal(18,2)").as("y"),
        col("z").cast("decimal(18,2)").as("z"),
        col("c").cast("decimal(18,2)").as("c"))
    val out = Analytics.groupedCorrMatrix(df, Seq(col("grp")),
      Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z"), "c" -> col("c")))
      .collect().map(r => (r.getString(2), r.getString(3)) ->
        ((r.getLong(1), Option(r.get(4))))).toMap
    assert(out.size == 6) // 4 choose 2
    // perfect ±1 correlations land 1 ulp past ±1 (√vx·√vy rounds just
    // under the exact product) — deterministic, pinned exactly
    assert(out(("x", "y")) == ((3L, Some(1.0000000000000002d))))
    assert(out(("x", "z")) == ((3L, Some(-1.0000000000000002d))))
    assert(out(("y", "z")) == ((3L, Some(-1.0000000000000002d))))
    // constant column: zero variance -> null, never NaN
    assert(out(("x", "c")) == ((3L, None)))
    assert(out(("y", "c")) == ((3L, None)))
    assert(out(("z", "c")) == ((3L, None)))
  }

  test("groupedCorrMatrix integral fast path: long metrics + wideProducts match the decimal path") {
    // Same data both ways: decimal(18,2) metrics vs 100×-scaled cent
    // longs. Pearson r is scale-invariant, so the two paths agree to
    // FP noise (compared at 1e-12 — the fixed-point rescale can move
    // the final sqrt/divide by an ulp); n and the null structure are
    // exact.
    val raw = Seq(
      ("g", 125L, 250L, 7500L),
      ("g", 250L, 425L, 5000L),
      ("g", 375L, 700L, 2500L),
      ("h", 100L, 900L, 100L),
      ("h", 300L, 700L, 300L),
      ("h", 500L, 100L, 900L)
    ).toDF("grp", "xc", "yc", "zc")
    val dec = raw.select(col("grp"),
      (col("xc").cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("x"),
      (col("yc").cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("y"),
      (col("zc").cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("z"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(2), r.getString(3)) ->
        ((r.getLong(1), Option(r.get(4))))).toMap
    val viaDecimal = toMap(Analytics.groupedCorrMatrix(dec, Seq(col("grp")),
      Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z"))))
    val viaLongs = toMap(Analytics.groupedCorrMatrix(raw, Seq(col("grp")),
      Seq("x" -> col("xc"), "y" -> col("yc"), "z" -> col("zc")),
      wideProducts = Set("y")))
    assert(viaLongs.size == 6)
    assert(viaLongs.keySet == viaDecimal.keySet)
    viaLongs.foreach { case (key, (n, c)) =>
      val (nD, cD) = viaDecimal(key)
      assert(n == nD, s"$key: n $n != $nD")
      (c, cD) match {
        case (Some(a: Double), Some(b: Double)) =>
          assert(math.abs(a - b) < 1e-12, s"$key: $a vs $b")
        case (a, b) => assert(a == b, s"$key: $a vs $b")
      }
    }
    // wideProducts must name declared metrics
    intercept[IllegalArgumentException](Analytics.groupedCorrMatrix(raw,
      Seq(col("grp")), Seq("x" -> col("xc"), "y" -> col("yc")),
      wideProducts = Set("nope")))
  }

  private def ev(rows: (Long, Long, String)*) =
    rows.toSeq.toDF("user_id", "sec", "event_type")
      .select(col("user_id"), col("sec").cast("timestamp").as("ts"), col("event_type"))

  test("funnel matches steps strictly in order from the earliest anchor") {
    val df = ev(
      // user 1 completes all three steps in order
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      // user 2 has b BEFORE its first a — never reaches step 2
      (2L, 20L, "b"), (2L, 30L, "a"),
      // user 3 anchors at its EARLIEST a (t=5); the b at t=50 counts
      (3L, 5L, "a"), (3L, 40L, "a"), (3L, 50L, "b"),
      // user 4 never emits step-0 at all
      (4L, 10L, "b"), (4L, 20L, "c"))
    val out = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"),
      Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long] / 1000000L),
          Option(r.get(3)).map(_.asInstanceOf[Long] / 1000000L)))).toMap
    assert(out(1L) == ((3, Some(10L), Some(30L))))
    assert(out(2L) == ((1, Some(30L), Some(30L))))
    assert(out(3L) == ((2, Some(5L), Some(50L))))
    assert(out(4L) == ((0, None, None)))
  }

  test("funnel ties on one instant never double-count it") {
    // a and b share t=10: step 1 requires STRICTLY later, so only the
    // b at t=20 advances the funnel.
    val df = ev((1L, 10L, "a"), (1L, 10L, "b"), (1L, 20L, "b"))
    val out = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"),
      Seq("a", "b")).collect()
    assert(out.length == 1)
    assert(out.head.getInt(1) == 2)
    assert(out.head.getLong(3) == 20L * 1000000L)
  }

  test("funnel maxSpan cuts steps outside the anchor window") {
    val df = ev(
      // user 1: b at +15s is outside a 10s window; the later b@30 too
      (1L, 10L, "a"), (1L, 25L, "b"), (1L, 30L, "b"),
      // user 2: completes inside the window (exactly at the bound)
      (2L, 10L, "a"), (2L, 20L, "b"))
    val out = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"),
      Seq("a", "b"), maxSpanUs = 10L * 1000000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 1)
    assert(out(2L) == 2) // e.tsUs - t0 == maxSpan is INSIDE (<=)
  }

  test("funnelBy on a composite key yields per-session funnels") {
    // user 1 has two sessions; the funnel completes only inside s1
    val df = Seq(
      ("1#s1", 10L, "a"), ("1#s1", 20L, "b"),
      ("1#s2", 30L, "a"),
      ("2#s1", 5L, "b")).toDF("k", "sec", "event_type")
      .select(col("k"), col("sec").cast("timestamp").as("ts"), col("event_type"))
    val out = Analytics.funnelBy(df, col("k"), col("ts"), col("event_type"), Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("1#s1" -> 2, "1#s2" -> 1, "2#s1" -> 0))
  }

  test("funnelBy agrees with funnel on numeric keys") {
    val df = ev((7L, 10L, "a"), (7L, 20L, "b"), (8L, 5L, "a"))
    val viaLong = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"),
      Seq("a", "b")).collect().map(r => r.getLong(0).toString -> r.getInt(1)).toMap
    val viaKey = Analytics.funnelBy(df, col("user_id"), col("ts"), col("event_type"),
      Seq("a", "b")).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaLong == viaKey)
  }

  test("cohortRetention buckets users by their own first-event week") {
    val day = 86400L
    val df = ev(
      // user 1 first event Mon 2024-01-01; active again 10 days later (week 1)
      (1L, 1704067200L, "x"), (1L, 1704067200L + 10 * day, "x"),
      // user 2 first event Thu 2024-01-04 (same Monday cohort); only week 0
      (2L, 1704326400L, "x"),
      // user 3 first event Mon 2024-01-08 -> next cohort, active week 2
      (3L, 1704672000L, "x"), (3L, 1704672000L + 15 * day, "x"))
    val out = Analytics.cohortRetention(df, col("user_id"), col("ts"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("2024-01-01", 0L)) == 2L) // users 1 and 2 in week 0
    assert(out(("2024-01-01", 1L)) == 1L) // user 1 back in week 1
    assert(out(("2024-01-08", 0L)) == 1L)
    assert(out(("2024-01-08", 2L)) == 1L)
    assert(!out.contains(("2024-01-01", 2L)))
  }

  test("funnel output is one row per user with at-least-one event") {
    val df = ev((1L, 1L, "a"), (1L, 2L, "a"), (2L, 3L, "z"))
    val out = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"), Seq("a"))
    assert(out.count() == 2)
  }

  test("topPaths counts per-user ordered trigrams, top-k with path tiebreak") {
    // user 1: a b c d  -> a>b>c, b>c>d ; user 2: a b c -> a>b>c
    // user 3: only 2 events -> no trigram
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "d"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"),
      (3L, 1L, "x"), (3L, 2L, "y"))
      .toDF("user_id", "sec", "event_type")
      .withColumn("ts", col("sec").cast("timestamp"))
      .withColumn("event_id", col("sec"))
    val out = Analytics.topPaths(df, col("user_id"),
      Seq(col("ts"), col("event_id")), col("event_type"), n = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a>b>c", 2L), ("b>c>d", 1L)))
    // k truncates deterministically on (count desc, path)
    val top1 = Analytics.topPaths(df, col("user_id"),
      Seq(col("ts"), col("event_id")), col("event_type"), n = 3, k = 1)
      .as[(String, Long)].collect().toSeq
    assert(top1 == Seq(("a>b>c", 2L)))
  }

  test("funnel tolerates null users and timestamps instead of crashing the encoder") {
    val df = Seq(
      (Some(1L), Some(10L), "a"),
      (None: Option[Long], Some(20L), "a"),   // null user -> dropped
      (Some(1L), None: Option[Long], "b"))     // null ts -> dropped
      .toDF("user_id", "sec", "event_type")
      .select(col("user_id"), col("sec").cast("timestamp").as("ts"), col("event_type"))
    val out = Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"), Seq("a", "b"))
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L && out.head.getInt(1) == 1)
  }

  test("histogram densifies empty bins, clips the domain, and bins on exact cents") {
    val df = Seq(
      ("x", "0.00"), ("x", "9.99"), ("x", "10.00"), ("x", "29.99"),
      ("x", "30.00"),             // == hi: excluded (right-open domain)
      ("x", "-0.01"),             // < lo: excluded
      ("y", "15.00"))
      .toDF("g", "v").withColumn("v", col("v").cast("decimal(18,2)"))
    val out = Analytics.histogram(df, Seq(col("g")), col("v"),
      lo = BigDecimal("0.00"), width = BigDecimal("10.00"), nbins = 3)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getLong(3))).toSet
    assert(out == Set(
      ("x", 0L, "0.00", 2L),   // 0.00, 9.99 (boundary 10.00 goes up)
      ("x", 1L, "10.00", 1L),
      ("x", 2L, "20.00", 1L),
      ("y", 0L, "0.00", 0L),   // densified zero bins
      ("y", 1L, "10.00", 1L),
      ("y", 2L, "20.00", 0L)))
    // null values are excluded, not binned or crashed on
    val withNull = df.unionAll(Seq(("x", null.asInstanceOf[String])).toDF("g", "v")
      .withColumn("v", col("v").cast("decimal(18,2)")))
    assert(Analytics.histogram(withNull, Seq(col("g")), col("v"),
      BigDecimal("0.00"), BigDecimal("10.00"), 3)
      .agg(sum(col("cnt"))).head().getLong(0) == 5L)
  }

  test("percentileRank: exact count ratios, ties are peers") {
    val df = Seq(("g", 10L), ("g", 20L), ("g", 20L), ("g", 40L), ("h", 5L))
      .toDF("g", "v")
    val out = Analytics.percentileRank(df, Seq(col("g")), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(out == Set(
      ("g", 10L, 1.0 / 4.0, 0.0),
      ("g", 20L, 3.0 / 4.0, 1.0 / 3.0), // both ties: cume over peers, rank-based excl
      ("g", 40L, 1.0, 1.0),
      ("h", 5L, 1.0, 0.0)))             // singleton group: percent_rank defined 0
  }

  test("abTest: hand-checked Welch t, degenerate arms yield null") {
    // g1: A=[10,12,14] B=[20,22] -> meanA=12, meanB=21, vA=4, vB=2
    // g2: arm B has n=1 -> null t; g3: both arms constant -> null t
    val rows = Seq(
      ("g1", 0L, 10L), ("g1", 0L, 12L), ("g1", 0L, 14L), ("g1", 1L, 20L), ("g1", 1L, 22L),
      ("g2", 0L, 5L), ("g2", 0L, 6L), ("g2", 1L, 9L),
      ("g3", 0L, 7L), ("g3", 0L, 7L), ("g3", 1L, 4L), ("g3", 1L, 4L))
    val df = rows.toDF("g", "arm", "v")
    val out = Analytics.abTest(df, Seq(col("g")), col("arm"), col("v"), "0", "1")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
      .toMap
    val t = (12.0 - 21.0) / math.sqrt(4.0 / 3.0 + 2.0 / 2.0)
    assert(out("g1") == ((3L, 2L, 12.0, 21.0, Some(t))))
    assert(out("g2")._5.isEmpty)     // n_b < 2
    assert(out("g3")._5.isEmpty)     // both variances zero
    // one constant arm is fine: se still positive
    val one = Analytics.abTest(
      Seq(("g", 0L, 7L), ("g", 0L, 7L), ("g", 1L, 3L), ("g", 1L, 5L)).toDF("g", "arm", "v"),
      Seq(col("g")), col("arm"), col("v"), "0", "1").head()
    assert(!one.isNullAt(5) && one.getDouble(5) == (7.0 - 4.0) / math.sqrt(0.0 + 2.0 / 2.0))
  }

  test("transitionMatrix: counts and row-normalized probabilities") {
    val rows = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "c"))
    val out = Analytics.transitionMatrix(rows.toDF("u", "i", "e"),
        col("u"), Seq(col("i")), col("e"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == Map(
      ("a", "b") -> ((2L, 2.0 / 3.0)),
      ("a", "c") -> ((1L, 1.0 / 3.0)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("rollingZscore: hand-checked trailing z, integer degenerate guards") {
    // key a: 5 warmup rows then a spike; key b: zero-variance history
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 10L), ("a", 4L, 12L), ("a", 5L, 10L),
      ("a", 6L, 25L),
      ("b", 1L, 7L), ("b", 2L, 7L), ("b", 3L, 7L), ("b", 4L, 7L), ("b", 5L, 7L),
      ("b", 6L, 99L))
    val df = rows.toDF("k", "i", "v")
    val out = Analytics.rollingZscore(df, Seq(col("k")), Seq(col("i")), col("v"),
        window = 5, minPeriods = 5, threshold = 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getBoolean(4))).toMap
    // warmup rows: < minPeriods preceding -> null z, not anomalous
    for (i <- 1L to 5L) { assert(out(("a", i)) == ((None, false))) }
    // spike: n=5, S=54, Q=588, z = (5*25-54)/sqrt((5*588-54*54)*5/4)
    val z = (5.0 * 25 - 54) / math.sqrt((5.0 * 588 - 54 * 54) * 5.0 / 4.0)
    assert(out(("a", 6L)) == ((Some(z), true)))
    // zero-variance history: integer-decided null, never a div-by-zero
    assert(out(("b", 6L)) == ((None, false)))
  }

  test("ewma: hand-checked fold, null values skip without resetting state") {
    val rows = Seq(
      (Some(1L), Some(1L), 10L, Some(8.0)),
      (Some(1L), Some(2L), 20L, Some(4.0)),
      (Some(1L), Some(3L), 30L, None),        // gap: emits null, state unchanged
      (Some(1L), None, 35L, Some(100.0)),     // null id dropped: no identity to emit
      (Some(1L), Some(4L), 40L, Some(12.0)),
      (Some(2L), Some(5L), 10L, Some(5.0)),   // second key: independent seed
      (None, Some(6L), 10L, Some(1.0)))       // null key dropped
    val df = rows.toDF("k", "id", "o", "v")
    val out = Analytics.ewma(df.repartition(4), col("k"), Seq(col("o")),
        col("id"), col("v"), alpha = 0.25)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val s2 = 0.25 * 4.0 + 0.75 * 8.0        // 7.0
    val s4 = 0.25 * 12.0 + 0.75 * s2        // 8.25
    assert(out == Map(
      1L -> Some(8.0), 2L -> Some(s2), 3L -> None, 4L -> Some(s4),
      5L -> Some(5.0)))
    // alpha = 1 degenerates to identity on the value
    val id1 = Analytics.ewma(df.where(col("v").isNotNull), col("k"),
        Seq(col("o")), col("id"), col("v"), alpha = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(id1 == Map(1L -> 8.0, 2L -> 4.0, 4L -> 12.0, 5L -> 5.0))
  }

  test("cooccurrence: support/lift over capped distinct baskets") {
    // b1={x,y,z}, b2={x,y}, b3={x,y} (x duplicated — collapses),
    // b4={x} (size-1, dropped), b5 = 11 items (over cap, dropped);
    // null items must not inflate sizes or counts
    val rows = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, null),
      (3L, "x"), (3L, "x"), (3L, "y"),
      (4L, "x")) ++ (0 until 11).map(i => (5L, s"i$i"))
    val df = rows.toDF("b", "i")
    val out = Analytics.cooccurrence(df, col("b"), col("i"),
        minSupport = 2L, maxBasketSize = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    // only (x,y) reaches support 2; n_baskets=3 kept, n_x=n_y=3
    assert(out.toSeq == Seq(("x", "y", 3L, 3L, 3L, 3L, 3.0 * 3 / (3 * 3))))
    // minSupport=1 also surfaces b1's other pairs, lexicographic a<b
    val all = Analytics.cooccurrence(df, col("b"), col("i"),
        minSupport = 1L, maxBasketSize = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(all == Set(("x", "y", 3L), ("x", "z", 1L), ("y", "z", 1L)))
  }

  test("expandingDistinct: running distinct count with repeats, per key") {
    val df = Seq(
      // (user, type, t, id) — u1 sees a,a,b,a,c -> cum 1,1,2,2,3
      ("u1", "a", 1L, 1L), ("u1", "a", 2L, 2L), ("u1", "b", 3L, 3L),
      ("u1", "a", 4L, 4L), ("u1", "c", 5L, 5L),
      // u2 sees b,b -> 1,1 (keys independent)
      ("u2", "b", 1L, 6L), ("u2", "b", 2L, 7L)
    ).toDF("u", "et", "t", "id")
    val got = Analytics.expandingDistinct(df, col("u"), col("et"), col("t"),
        Seq(col("id")))
      .select("u", "id", "cum_distinct")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("u1", 1L, 1L), ("u1", 2L, 1L), ("u1", 3L, 2L), ("u1", 4L, 2L),
      ("u1", 5L, 3L), ("u2", 6L, 1L), ("u2", 7L, 1L)))
  }

  test("expandingDistinct: equal-timestamp ties resolved by the tie column") {
    val df = Seq(
      ("u", "a", 1L, 2L), // same t=1; id 1 is "b", id 2 is "a"
      ("u", "b", 1L, 1L)
    ).toDF("u", "et", "t", "id")
    val got = Analytics.expandingDistinct(df, col("u"), col("et"), col("t"),
        Seq(col("id")))
      .select("id", "cum_distinct")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 2L))) // b first (id 1), then a -> 2
  }

  test("gini: closed forms — uniform is 0, linear totals are 0.25") {
    val uniform = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 5L)).toDF("k", "v")
    val g0 = Analytics.gini(uniform, col("k"), col("v")).collect().head
    assert(g0.getAs[Long]("n_keys") == 4L && g0.getAs[Long]("sum_val") == 20L)
    assert(g0.getAs[Double]("gini") == 0.0)
    // totals 1,2,3,4: W = 30, G = 60/40 - 5/4 = 0.25
    val linear = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "v")
    val g1 = Analytics.gini(linear, col("k"), col("v")).collect().head
    assert(g1.getAs[Double]("weighted_sum") == 30.0)
    assert(g1.getAs[Double]("gini") == 0.25)
  }

  test("mutualInfo: independence gives 0, identity gives ln 2") {
    // 2x2 uniform: every cell n=5 -> each term ln(1) = 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq(0, 1); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val mi0 = Analytics.mutualInfo(indep, col("x"), col("y")).collect()
    assert(mi0.length == 4 && mi0.forall(_.getAs[Double]("mi") == 0.0))
    // y == x over 2 symbols: MI = ln 2
    val dep = (Seq.fill(6)("a") ++ Seq.fill(6)("b")).map(s => (s, s)).toDF("x", "y")
    val mi1 = Analytics.mutualInfo(dep, col("x"), col("y")).collect()
    assert(mi1.forall(r => math.abs(r.getAs[Double]("mi") - math.log(2.0)) < 1e-6))
  }

  test("timeWeightedAvg: duration-weighted, right-open, last point dropped") {
    val df = Seq(
      ("u", 0L, 1.0), ("u", 10L, 4.0), ("u", 30L, 7.0), // 7.0 has no successor
      ("v", 0L, 2.0) // single point: no interval at all
    ).toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    val rows = Analytics.timeWeightedAvg(df, col("k"), col("ts"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // u: 1.0*10 + 4.0*20 = 90 over 30us -> 3.0
    assert(rows("u") == ((2L, 30L, 3.0)))
    assert(!rows.contains("v"))
  }

  test("cusum: hand-checked fold, clamp at zero, alarm threshold, null skip") {
    val df = Seq(
      (1L, 1L, Some(2.0)), (1L, 2L, Some(0.0)), (1L, 3L, None),
      (1L, 4L, Some(0.5)), (1L, 5L, Some(3.0)),
      (2L, 1L, Some(0.0)) // independent key, stays clamped
    ).toDF("k", "i", "v")
    val got = Analytics.cusum(df, col("k"), Seq(col("i")), col("i"), col("v"),
        drift = 1.0, threshold = 1.5)
      .collect()
      .map(r => (r.getLong(1), r.getLong(0)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
      .toMap
    // s: 0+1=1; 1-1=0; (null keeps 0); 0-0.5 -> clamp 0; 0+2=2 -> alarm
    assert(got((1L, 1L)) == ((Some(1.0), false)))
    assert(got((1L, 2L)) == ((Some(0.0), false)))
    assert(got((1L, 3L)) == ((None, false)))
    assert(got((1L, 4L)) == ((Some(0.0), false)))
    assert(got((1L, 5L)) == ((Some(2.0), true)))
    assert(got((2L, 1L)) == ((Some(0.0), false)))
  }

  test("ksTest: identical samples score 0, disjoint supports score 1, shift in between") {
    def mk(rows: Seq[(String, Double)]) = rows.toDF("g", "v")
    val same = mk(Seq("a", "b").flatMap(g => (1 to 10).map(i => (g, i.toDouble))))
    val s = Analytics.ksTest(same, col("g"), col("v"), "a", "b").collect().head
    assert(s.getAs[Long]("ks_num") == 0L && s.getAs[Double]("ks") == 0.0)
    val disjoint = mk((1 to 5).map(i => ("a", i.toDouble)) ++
      (11 to 15).map(i => ("b", i.toDouble)))
    val d = Analytics.ksTest(disjoint, col("g"), col("v"), "a", "b").collect().head
    assert(d.getAs[Double]("ks") == 1.0)
    // a = {1,2}, b = {2,3}: D = 1/2 at v in [1,2)... exact: max|2*cumA-2*cumB|/4
    val shift = mk(Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)))
    val h = Analytics.ksTest(shift, col("g"), col("v"), "a", "b").collect().head
    assert(h.getAs[Long]("ks_num") == 2L && h.getAs[Long]("ks_denom") == 4L)
    assert(h.getAs[Double]("ks") == 0.5)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("holt: hand-folded level/trend; a perfectly linear series converges to lag-free forecasts") {
    val xs = Seq(10.0, 14.0, 18.0)
    val df = xs.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("k", "i", "v")
    val got = Analytics.holt(df, col("k"), Seq(col("i")), col("i"), col("v"),
        alpha = 0.5, beta = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((10.0, 0.0)))
    assert(math.abs(got(2L)._1 - 12.0) < 1e-12 &&
      math.abs(got(2L)._2 - 0.6) < 1e-12)
    assert(math.abs(got(3L)._1 - 15.3) < 1e-12 &&
      math.abs(got(3L)._2 - 1.41) < 1e-12)
    // long linear ramp: forecast converges onto the next point (EWMA
    // alone would lag by a constant offset forever)
    val ramp = (1 to 60).map(i => (2L, i.toLong, i.toDouble * 3)).toDF("k", "i", "v")
    val tail = Analytics.holt(ramp, col("k"), Seq(col("i")), col("i"), col("v"),
        alpha = 0.5, beta = 0.3)
      .collect().filter(_.getLong(0) == 60L).head
    assert(math.abs(tail.getDouble(4) - 183.0) < 0.01) // next value = 61*3
  }

  test("cuped: hand-computed theta and residualized arm means shrink the gap") {
    // users (x=first, y=second): u1=(1,2) arm1, u2=(2,5) arm0,
    // u3=(3,6) arm1, u4=(4,9) arm0
    // theta = (4*66 - 10*22)/(4*30 - 100) = 2.2, xbar = 2.5
    // arm1 adj: (5.3 + 4.9)/2 = 5.1; arm0 adj: (6.1 + 5.7)/2 = 5.9
    val rows = Seq(
      (1L, 1L, 1.0), (1L, 2L, 2.0),
      (2L, 1L, 2.0), (2L, 2L, 5.0),
      (3L, 1L, 3.0), (3L, 2L, 6.0),
      (4L, 1L, 4.0), (4L, 2L, 9.0),
      (5L, 1L, 77.0) // single event: no post period, excluded
    ).toDF("u", "i", "v")
      .select(col("u"), timestamp_micros(col("i") * 1000000L).as("ts"),
        col("i"), col("v"))
    val out = Analytics.cuped(rows, col("u"), (col("u") % 2L).as("arm"),
        col("ts"), col("i"), col("v"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(1L) == ((2L, 4.0, 5.1, 2.2)))
    assert(out(0L) == ((2L, 7.0, 5.9, 2.2)))
  }

  test("wilsonRates: closed-form interval, exact counts, degenerate p=0/1 stay in [0,1]") {
    val df = (Seq.fill(50)(("g", true)) ++ Seq.fill(50)(("g", false)) ++
      Seq.fill(10)(("z", true))).toDF("grp", "ok")
    val rows = Analytics.wilsonRates(df, col("grp"), col("ok"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val (n, s) = (100.0, 50.0)
    val z = 1.96; val z2 = z * z
    val p = s / n
    val denom = 1.0 + z2 / n
    val center = (p + z2 / (2.0 * n)) / denom
    val half = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val g = rows("g")
    assert(g._1 == 100L && g._2 == 50L && g._3 == 0.5)
    assert(math.abs(g._4 - r6(center - half)) < 2e-6 &&
      math.abs(g._5 - r6(center + half)) < 2e-6)
    // all-true group: p=1, upper bound capped under 1 by the formula
    val zr = rows("z")
    assert(zr._3 == 1.0 && zr._5 <= 1.0 && zr._4 > 0.6)
  }

  test("rfmSegments: aligned quintiles produce the expected lifecycle codes") {
    val day0 = java.sql.Date.valueOf("2020-01-01")
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i))
    val orders = (1 to 5).map(i => (i.toLong, d(i), i.toLong * 100))
      .toDF("k", "dt", "cents")
    val segs = Analytics.rfmSegments(orders, col("k"), col("dt"), col("cents"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // cust 5: most recent (r_q=1), ties f=1 by key -> 5, biggest spend -> 155
    // cust 1: oldest -> 511
    assert(segs == Map(511 -> 1L, 422 -> 1L, 333 -> 1L, 244 -> 1L, 155 -> 1L))
    val _ = day0
  }

  test("exactQuantiles: type-1 order statistics, repeats and boundaries exact") {
    // values 1..10: p=0.5 -> rank 5 -> value 5; p=1.0 -> 10; p=0.01 -> rank 1
    val df = (1L to 10L).toDF("v")
    val got = Analytics.exactQuantiles(df, col("v"), Seq(0.01, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0.01) == ((1L, 1L)))
    assert(got(0.5) == ((5L, 5L)))
    assert(got(1.0) == ((10L, 10L)))
    // heavy repeats: 1x1, 8x2, 1x3 -> median is 2, p90 -> rank 9 -> 2
    val rep = (Seq(1L) ++ Seq.fill(8)(2L) ++ Seq(3L)).toDF("v")
    val g2 = Analytics.exactQuantiles(rep, col("v"), Seq(0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(g2(0.5) == 2L && g2(0.9) == 2L && g2(1.0) == 3L)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("maxConcurrency: half-open sweep — touching intervals don't overlap") {
    // [1,5) [2,4) [4,6): peak 2 first at t=2; [4,6) starts exactly as [2,4)
    // ends, so t=4 stays at 2, never 3
    val iv = Seq((1L, 5L), (2L, 4L), (4L, 6L)).toDF("s", "e")
    val r = Analytics.maxConcurrency(iv, col("s"), col("e")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    val disjoint = Seq((1L, 2L), (3L, 4L)).toDF("s", "e")
    val d = Analytics.maxConcurrency(disjoint, col("s"), col("e")).collect().head
    assert(d.getLong(0) == 1L && d.getLong(1) == 1L)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("cramersV: identity association is 1, independence is 0, constant is null") {
    val ident = Seq.fill(5)(("a", "a")) ++ Seq.fill(5)(("b", "b"))
    val i = Analytics.cramersV(ident.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    assert(i.getAs[Double]("chi2") == 10.0) // = N for a 2x2 identity
    assert(i.getAs[Double]("cramers_v") == 1.0)
    val indep = for { x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 5 }
      yield (x, y)
    val d = Analytics.cramersV(indep.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    assert(d.getAs[Double]("chi2") == 0.0 && d.getAs[Double]("cramers_v") == 0.0)
    val const = Seq.fill(6)(("only", "y")).toDF("x", "y")
    val c = Analytics.cramersV(const, col("x"), col("y")).collect().head
    assert(c.isNullAt(c.fieldIndex("cramers_v")))
  }

  test("entropy: uniform hits ln k (norm 1), constant column scores 0") {
    val uniform = Seq("a", "b", "c", "d").flatMap(x => Seq.fill(25)(x)).toDF("x")
    val u = Analytics.entropy(uniform, col("x")).collect().head
    assert(u.getAs[Long]("n") == 100L && u.getAs[Long]("k") == 4L)
    assert(math.abs(u.getAs[Double]("entropy") - math.log(4.0)) < 1e-4)
    assert(u.getAs[Double]("entropy_norm") > 0.9999)
    val const = Seq.fill(50)("only").toDF("x")
    val c = Analytics.entropy(const, col("x")).collect().head
    assert(c.getAs[Double]("entropy") == 0.0 && c.getAs[Double]("entropy_norm") == 0.0)
  }

  test("aucRankSum: perfect/reverse/random separation and midrank ties") {
    // positives strictly above negatives -> AUC 1; reversed -> 0
    val perfect = Seq((0L, 1.0), (0L, 2.0), (1L, 3.0), (1L, 4.0)).toDF("y", "s")
    val p = Analytics.aucRankSum(perfect, col("y"), col("s")).collect().head
    assert(p.getAs[Long]("n_pos") == 2L && p.getAs[Long]("n_neg") == 2L)
    assert(p.getAs[Double]("auc") == 1.0)
    val rev = Analytics.aucRankSum(perfect, lit(1L) - col("y"), col("s"))
      .collect().head
    assert(rev.getAs[Double]("auc") == 0.0)
    // all scores tied: every pair is a tie, AUC = 1/2 exactly (midranks)
    val tied = Seq((1L, 5.0), (0L, 5.0), (1L, 5.0), (0L, 5.0)).toDF("y", "s")
    assert(Analytics.aucRankSum(tied, col("y"), col("s"))
      .collect().head.getAs[Double]("auc") == 0.5)
    // single-class input -> null AUC
    val mono = Seq((1L, 1.0), (1L, 2.0)).toDF("y", "s")
    val m = Analytics.aucRankSum(mono, col("y"), col("s")).collect().head
    assert(m.isNullAt(m.fieldIndex("auc")))
  }

  test("targetEncode: shrinkage pulls rare categories toward the global mean") {
    // cats: a has 4 rows mean 100, b has 1 row at 1000; global mean 280
    val df = Seq(("a", 100L), ("a", 100L), ("a", 100L), ("a", 100L), ("b", 1000L))
      .toDF("cat", "cents")
    val out = Analytics.targetEncode(df, col("cat"), col("cents"), m = 4L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // gmean = 1400 div 5 = 280
    // a: (400 + 4*280) div (4+4) = 1520 div 8 = 190
    // b: (1000 + 4*280) div (1+4) = 2120 div 5 = 424
    assert(out("a") == ((4L, 100L, 190L)))
    assert(out("b") == ((1L, 1000L, 424L)))
    // m=0 degenerates to the plain per-category mean
    val plain = Analytics.targetEncode(df, col("cat"), col("cents"), m = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(plain == Map("a" -> 100L, "b" -> 1000L))
  }

  test("bootstrapMean: constant data has zero spread; replicate count honored") {
    val df = (1L to 400L).map(i => (i, 500L)).toDF("id", "cents")
    val r = Analytics.bootstrapMean(df, col("id"), col("cents"), replicates = 8)
      .collect().head
    assert(r.getAs[Long]("b") == 8L)
    assert(r.getAs[Long]("mean_of_means_cents") == 500L)
    assert(r.getAs[Long]("lo_cents") == 500L && r.getAs[Long]("hi_cents") == 500L)
    assert(r.getAs[Long]("std_micros") == 0L)
    // non-constant data: mean-of-means lands inside [lo, hi], spread > 0
    val v = (1L to 400L).map(i => (i, i % 100L)).toDF("id", "cents")
    val s = Analytics.bootstrapMean(v, col("id"), col("cents"), replicates = 8)
      .collect().head
    assert(s.getAs[Long]("lo_cents") <= s.getAs[Long]("mean_of_means_cents") &&
      s.getAs[Long]("mean_of_means_cents") <= s.getAs[Long]("hi_cents"))
    assert(s.getAs[Long]("std_micros") > 0L)
  }

  test("bootstrapMean: variance numerator stays exact past int64 (decimal path)") {
    // huge cent values -> replicate means ~5e10, so b·Σm²−(Σm)²
    // blows through int64; the decimal(38,0) numerator must match a
    // BigInt recomputation of the SAME deterministic inclusion rule
    val b = 8
    val vals = (1L to 40L).map(i => (i, if (i % 2 == 0) 0L else 100000000000L))
    val means = (0 until b).map { rep =>
      val inc = vals.filter { case (id, _) =>
        ((id % 1000003L) * (rep + 17L) + 31L * rep.toLong * rep.toLong) % 97L < 48L
      }
      BigInt(inc.map(_._2).sum) / inc.size
    }
    val sm = means.sum
    val sm2 = means.map(m => m * m).sum
    val num = BigInt(means.size) * sm2 - sm * sm
    assert(num > BigInt(Long.MaxValue)) // the scenario actually exceeds int64
    val expect = math.floor(math.sqrt(
      num.toDouble / (means.size * (means.size - 1)).toDouble) * 1e6).toLong
    val r = Analytics
      .bootstrapMean(vals.toDF("id", "cents"), col("id"), col("cents"), replicates = b)
      .collect().head
    assert(r.getAs[Long]("b") == means.size.toLong)
    assert(r.getAs[Long]("std_micros") == expect)
  }

  test("changePoint: step series splits at the step; exact rational shift") {
    // 0,0,10,10 over days 1..4: D = (-20,-40,-20) -> |D| max 40 at day 2;
    // shift = (20-0)/2 - 0/2 = 10 as the rational 40/4
    val df = Seq(("k", 1L, 0L), ("k", 2L, 0L), ("k", 3L, 10L), ("k", 4L, 10L))
      .toDF("g", "d", "c")
    val r = Analytics.changePoint(df, col("g"), col("d"), col("c"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("max_abs_d") == 40L)
    assert(r.getAs[Long]("at_day") == 2L)
    assert(r.getAs[Long]("shift_num") == 40L && r.getAs[Long]("shift_den") == 4L)
    // constant series: every D_t = 0 -> earliest interior day wins, shift 0
    val flat = Seq(("k", 1L, 5L), ("k", 2L, 5L), ("k", 3L, 5L)).toDF("g", "d", "c")
    val rf = Analytics.changePoint(flat, col("g"), col("d"), col("c"))
      .collect().head
    assert(rf.getAs[Long]("max_abs_d") == 0L && rf.getAs[Long]("at_day") == 1L)
    assert(rf.getAs[Long]("shift_num") == 0L)
    // single-observation keys have no interior split and drop
    val single = Seq(("a", 1L, 5L), ("b", 1L, 1L), ("b", 2L, 9L))
      .toDF("g", "d", "c")
    val keys = Analytics.changePoint(single, col("g"), col("d"), col("c"))
      .select("key").as[String].collect().toSet
    assert(keys == Set("b"))
  }

  test("isotonicFit: textbook PAV pooling; decreasing input pools to the mean") {
    // y = 1,3,2,4 over x = 1..4: the 3>2 violation pools to 2.5, ends
    // monotone -> 1, 2.5, 2.5, 4 (ppm floors)
    val df = Seq(("k", 1L, 1L), ("k", 2L, 3L), ("k", 3L, 2L), ("k", 4L, 4L))
      .toDF("g", "x", "y")
    val r = Analytics.isotonicFit(df, col("g"), col("x"), col("y"))
      .orderBy("x").collect()
    assert(r.map(_.getAs[Long]("fitted_ppm")).toSeq ==
      Seq(1000000L, 2500000L, 2500000L, 4000000L))
    // fitted is monotone and mass-preserving: Σ fitted == Σ y (exactly,
    // since every pool mean here is ppm-exact)
    assert(r.map(_.getAs[Long]("fitted_ppm")).sum == 10000000L)
    // strictly decreasing input pools everything to the global mean
    val dec = Seq(("k", 1L, 3L), ("k", 2L, 2L), ("k", 3L, 1L)).toDF("g", "x", "y")
    val rd = Analytics.isotonicFit(dec, col("g"), col("x"), col("y"))
      .orderBy("x").collect()
    assert(rd.map(_.getAs[Long]("fitted_ppm")).toSeq ==
      Seq(2000000L, 2000000L, 2000000L))
    // ties on x pre-aggregate: (x=1, y=1) + (x=1, y=3) is one point
    // with mean 2, weight 2 — pulling the following 1 up into one pool
    val ties = Seq(("k", 1L, 1L), ("k", 1L, 3L), ("k", 2L, 1L)).toDF("g", "x", "y")
    val rt = Analytics.isotonicFit(ties, col("g"), col("x"), col("y"))
      .orderBy("x").collect()
    // pooled: (4+1)/(2+1) = 5/3 -> 1666666 ppm everywhere
    assert(rt.map(_.getAs[Long]("fitted_ppm")).toSeq ==
      Seq(1666666L, 1666666L))
    assert(rt.head.getAs[Long]("n") == 2L)
  }

  test("siegelSlope: exact ppm slope; the outlier anchor's median is outvoted") {
    // days 1,2,3 cents 0,10,20: every pairwise slope 10e6 ppm
    val clean = Seq(("k", 1L, 0L), ("k", 2L, 10L), ("k", 3L, 20L))
      .toDF("g", "d", "c")
    val r = Analytics.siegelSlope(clean, col("g"), col("d"), col("c"))
      .collect().head
    assert(r.getAs[Long]("n_days") == 3L)
    assert(r.getAs[Long]("slope_ppm") == 10000000L)
    // one wild final day: every GOOD anchor's inner median stays 10e6,
    // so the outer median ignores the outlier anchor entirely
    val dirty = Seq(("k", 1L, 0L), ("k", 2L, 10L), ("k", 3L, 20L),
      ("k", 4L, 1000000L)).toDF("g", "d", "c")
    val rd = Analytics.siegelSlope(dirty, col("g"), col("d"), col("c"))
      .collect().head
    assert(rd.getAs[Long]("slope_ppm") == 10000000L)
  }

  test("hodgesLehmann: Walsh-average median; outlier-resistant vs the mean") {
    // values 1,2,3 over days 1..3: walsh sums {2,3,4,4,5,6} -> median
    // (rank ceil(0.5·6)=3) = 4 -> HL = 2 (= the median here)
    val df = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L)).toDF("g", "d", "c")
    val r = Analytics.hodgesLehmann(df, col("g"), col("d"), col("c"))
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 6L && r.getAs[Long]("hl_x2") == 4L)
    // one wild outlier barely moves HL (mean would jump by ~250)
    val out = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 1000L))
      .toDF("g", "d", "c")
    val ro = Analytics.hodgesLehmann(out, col("g"), col("d"), col("c"))
      .collect().head
    // walsh sums: {2,3,4,1001,4,5,1002,6,1003,2000} sorted ->
    // {2,3,4,4,5,6,1001,1002,1003,2000}; rank 5 -> 5 -> HL = 2.5
    assert(ro.getAs[Long]("hl_x2") == 5L)
  }

  test("mannKendall: textbook S with tie correction; monotone-down is negative") {
    // series 1,2,2,4 over days 1..4: S = 5 (one tied pair), n = 4
    // 18·Var = 4·3·13 − 2·1·9 = 156 − 18 = 138
    val up = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 2L), ("k", 4L, 4L))
      .toDF("g", "d", "c")
    val r = Analytics.mannKendall(up, col("g"), col("d"), col("c"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("s") == 5L)
    assert(r.getAs[Long]("var18") == 138L)
    val zExp = math.floor((5.0 - 1.0) * 1e6 / math.sqrt(138.0 / 18.0)).toLong
    assert(r.getAs[Long]("z_micros") == zExp)
    // strictly decreasing: S = -C(4,2) = -6, no ties, z negative
    val down = Seq(("k", 1L, 9L), ("k", 2L, 7L), ("k", 3L, 5L), ("k", 4L, 1L))
      .toDF("g", "d", "c")
    val rd = Analytics.mannKendall(down, col("g"), col("d"), col("c"))
      .collect().head
    assert(rd.getAs[Long]("s") == -6L && rd.getAs[Long]("var18") == 156L)
    val zDown = math.floor(-(6.0 - 1.0) * 1e6 / math.sqrt(156.0 / 18.0)).toLong
    assert(rd.getAs[Long]("z_micros") == zDown)
    // constant series: every pairwise sign 0, full ties -> var18 = 0 -> z null
    val flat = Seq(("k", 1L, 3L), ("k", 2L, 3L), ("k", 3L, 3L)).toDF("g", "d", "c")
    val rf = Analytics.mannKendall(flat, col("g"), col("d"), col("c"))
      .collect().head
    assert(rf.getAs[Long]("s") == 0L && rf.getAs[Long]("var18") == 0L)
    assert(rf.isNullAt(rf.fieldIndex("z_micros")))
  }

  test("lagAutocorr: alternating series -> r = -1; monotone ramp -> r = 1") {
    // x alternates 0,1,0,1..: lag-1 pairs are perfectly anti-correlated
    val alt = (0 until 12).map(i => ("k", i.toLong, (i % 2).toDouble))
      .toDF("k", "t", "v")
    val a = Analytics.lagAutocorr(alt, col("k"), Seq(col("t")), col("v"), k = 1)
      .collect().head
    assert(a.getAs[Long]("n_pairs") == 11L && a.getAs[Double]("r") == -1.0)
    // lag-2 on the same series: pairs align identical phases -> +1
    val a2 = Analytics.lagAutocorr(alt, col("k"), Seq(col("t")), col("v"), k = 2)
      .collect().head
    assert(a2.getAs[Long]("n_pairs") == 10L && a2.getAs[Double]("r") == 1.0)
    // below minPairs or zero variance -> null
    val tiny = Seq(("k", 0L, 1.0), ("k", 1L, 2.0)).toDF("k", "t", "v")
    val t = Analytics.lagAutocorr(tiny, col("k"), Seq(col("t")), col("v"), k = 1)
      .collect().head
    assert(t.isNullAt(t.fieldIndex("r")))
    val const = (0 until 8).map(i => ("k", i.toLong, 7.0)).toDF("k", "t", "v")
    val c = Analytics.lagAutocorr(const, col("k"), Seq(col("t")), col("v"), k = 1)
      .collect().head
    assert(c.isNullAt(c.fieldIndex("r")))
  }

  test("lorenzCurve: uniform values give linear curve; ties split exactly") {
    // four rows of equal value: bottom half holds exactly half the mass
    val eq = Seq(10L, 10L, 10L, 10L).toDF("v")
    val half = Analytics.lorenzCurve(eq, col("v"), Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(half(0.5) == ((20L, 500000L)))
    assert(half(1.0) == ((40L, 1000000L)))
    // concentration: 1,1,1,97 -> bottom 75% holds 3%
    val skew = Seq(1L, 1L, 1L, 97L).toDF("v")
    val s = Analytics.lorenzCurve(skew, col("v"), Seq(0.75, 1.0))
      .collect().map(r => r.getDouble(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(s(0.75) == ((3L, 30000L)))
    assert(s(1.0) == ((100L, 1000000L)))
  }

  test("informationGain: determined target gains H(Y); independent gains ~0") {
    // y = x exactly: H(Y|X) = 0, IG = H(Y), gain_ratio = 1
    val det = Seq.tabulate(40)(i => (s"x${i % 4}", (i % 4).toLong)).toDF("x", "y")
    val d = Analytics.informationGain(det, col("x"), col("y")).head()
    assert(d.getAs[Long]("n") == 40L)
    assert(d.getAs[Double]("h_y_given_x") == 0.0)
    assert(math.abs(d.getAs[Double]("info_gain") - math.log(4.0)) < 1e-4)
    assert(math.abs(d.getAs[Double]("gain_ratio") - 1.0) < 1e-4)
    // x independent of y in a balanced grid: IG = 0
    val ind = (for { x <- 0 until 4; y <- 0 until 4 } yield (s"x$x", y.toLong))
      .toDF("x", "y")
    val i = Analytics.informationGain(ind, col("x"), col("y")).head()
    assert(math.abs(i.getAs[Double]("info_gain")) < 1e-4)
    // constant feature: H(X) = 0 -> null gain ratio
    val const = Seq(("k", 1L), ("k", 2L)).toDF("x", "y")
    val c = Analytics.informationGain(const, col("x"), col("y")).head()
    assert(c.isNullAt(c.fieldIndex("gain_ratio")))
  }

  test("calibrationBins: exact bin edges and ppm rates") {
    // scores 0..9 with width 5 -> bins 0 and 1; outcome = score >= 8
    val df = (0L until 10L).map(s => (s, if (s >= 8) 1L else 0L)).toDF("s", "y")
    val out = Analytics.calibrationBins(df, col("s"), col("y"), binWidth = 5L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // bin 0: scores 0-4, 0 positives; bin 1: scores 5-9, 2 of 5
    assert(out == Map(0L -> ((0L, 5L, 0L, 0L)), 1L -> ((5L, 5L, 2L, 400000L))))
    // nulls in either column are excluded
    val withNull = df.unionAll(Seq((99L, 1L)).toDF("s", "y")
      .select(lit(null).cast("long").as("s"), col("y")))
    assert(Analytics.calibrationBins(withNull, col("s"), col("y"), 5L)
      .agg(sum(col("n"))).collect().head.getLong(0) == 10L)
  }

  test("seasonalNaiveError: calendar lags pair exact days; ratio is MAE7/MAE1") {
    // one group, days 0..13, value = 100*day cents; perfectly trending:
    // |x_t - x_{t-7}| = 700, |x_t - x_{t-1}| = 100 -> mase_ppm = 7e6
    val df = (0L until 14L).map(d => ("a", d, d * 100L)).toDF("g", "d", "c")
    val out = Analytics.seasonalNaiveError(df, col("g"), col("d"), col("c"), season = 7)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 7L && r.getLong(2) == 7 * 700L)  // n_seasonal, ae7
    assert(r.getLong(3) == 13L && r.getLong(4) == 13 * 100L) // n_naive, ae1
    assert(r.getLong(5) == 7000000L)
    // a gap in the series pairs nothing across it: days {0,1,5,6} ->
    // naive pairs (0,1),(5,6) only, no seasonal pairs at lag 7
    val gap = Seq(0L, 1L, 5L, 6L).map(d => ("a", d, 100L)).toDF("g", "d", "c")
    assert(Analytics.seasonalNaiveError(gap, col("g"), col("d"), col("c"), 7)
      .collect().isEmpty) // seasonal leg empty -> inner join drops the group
  }

  test("timeToConvert: first from-event anchors, first to-event at-or-after") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val df = Seq(
      (1L, ts(100), "signup"), (1L, ts(50), "purchase"),  // purchase BEFORE signup ignored
      (1L, ts(400), "purchase"), (1L, ts(900), "purchase"),
      (2L, ts(10), "signup"),                              // never converts
      (3L, ts(5), "purchase")                              // never signs up
    ).toDF("u", "ts", "et")
    val out = Analytics.timeToConvert(df, col("u"), col("ts"),
        col("et") === "signup", col("et") === "purchase")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(1L -> ((100000000L, 400000000L, 300L))))
  }

  test("spearman: monotone map reads exactly 1; outliers only bend ranks") {
    // y = x^3 (monotone, nonlinear): Spearman 1.0 where Pearson < 1
    val mono = Seq((1L, 1L), (2L, 8L), (3L, 27L), (4L, 64L)).toDF("x", "y")
    assert(Analytics.spearman(mono, col("x"), col("y"))
      .collect().head.getDouble(1) == 1.0)
    // reversed: exactly -1
    val rev = Seq((1L, 4L), (2L, 3L), (3L, 2L), (4L, 1L)).toDF("x", "y")
    assert(Analytics.spearman(rev, col("x"), col("y"))
      .collect().head.getDouble(1) == -1.0)
    // constant y: zero rank variance -> null
    val const = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    assert(Analytics.spearman(const, col("x"), col("y"))
      .collect().head.isNullAt(1))
  }

  test("wilcoxonSignedRank: textbook ranks, zeros dropped, ties midranked") {
    // diffs {1, -2, 3, 0}: zero drops -> |d| ranks 1,2,3; positives
    // {1, 3} hold ranks 1 and 3 -> W+ = 4, w_x2 = 8;
    // biserial = (2*8 - 3*4)/(3*4) = 4/12 = 0.333333
    val df = Seq(1L, -2L, 3L, 0L).toDF("d")
    val r = Analytics.wilcoxonSignedRank(df, col("d")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 8L)
    assert(r.getDouble(2) == 0.333333)
    // tied magnitudes: {+5, -5} share midrank 1.5 -> W+ = 1.5, x2 = 3,
    // biserial = (6 - 6)/6 = 0
    val tie = Seq(5L, -5L).toDF("d")
    val r2 = Analytics.wilcoxonSignedRank(tie, col("d")).collect().head
    assert(r2.getLong(1) == 3L && r2.getDouble(2) == 0.0)
  }

  test("iqrOutliers: exact fences, only true casualties counted") {
    // group a: 1..20 plus spikes -100 and 1000.
    // n = 22: q1 rank ceil(5.5)=6 -> value 5; q3 rank ceil(16.5)=17 -> 16
    // IQR 11 -> 1.5x = 16 (floor-div 150//100): fences [-11, 32]
    val df = ((1L to 20L) ++ Seq(-100L, 1000L)).map(("a", _)).toDF("g", "v")
    val r = Analytics.iqrOutliers(df, col("g"), col("v")).collect().head
    assert(r.getLong(1) == 22L && r.getLong(2) == 5L && r.getLong(3) == 16L)
    assert(r.getLong(4) == -11L && r.getLong(5) == 32L)
    assert(r.getLong(6) == 1L && r.getLong(7) == 1L)
  }

  test("groupedTrimmedMean: exact tail deletion, ties split across the cut") {
    // group a: 1..10, alpha 20% -> t = 2: drop {1,2} and {9,10},
    // survivors 3..8 sum 33, n_trimmed 6 -> mean 5 (33 div 6)
    val df = (1L to 10L).map(("a", _)).toDF("g", "v")
    val r = Analytics.groupedTrimmedMean(df, col("g"), col("v"), 200000L)
      .collect().head
    assert(r.getLong(1) == 10L && r.getLong(2) == 6L && r.getLong(3) == 5L)
    // a tied cell straddling the cut contributes only its surviving
    // copies: values {1,1,1,5,9}, t = 1 -> drop one 1 and the 9:
    // survivors {1,1,5} -> mean 7 div 3 = 2
    val tie = Seq(1L, 1L, 1L, 5L, 9L).map(("b", _)).toDF("g", "v")
    val rt = Analytics.groupedTrimmedMean(tie, col("g"), col("v"), 200000L)
      .collect().head
    assert(rt.getLong(2) == 3L && rt.getLong(3) == 2L)
    // alpha 0 trims nothing: plain exact mean
    val r0 = Analytics.groupedTrimmedMean(df, col("g"), col("v"), 0L)
      .collect().head
    assert(r0.getLong(2) == 10L && r0.getLong(3) == 5L)
    // boundary: alpha just under 1/2 leaves the median pair — 1..10 at
    // 49.9999% trims 4 a side, survivors {5, 6} -> 11 div 2 = 5
    // (alpha < 0.5 guarantees n_trimmed >= 1, so the mean never nulls)
    val rb = Analytics.groupedTrimmedMean(df, col("g"), col("v"), 499999L)
      .collect().head
    assert(rb.getLong(2) == 2L && rb.getLong(3) == 5L)
  }

  test("liftTable: hand gains, pro-rata tie sharing, lift 1.0 at full depth") {
    // scores 10..1, responders at 10, 9, 2; 5 buckets of 2 rows
    val df = (1L to 10L).map(v => (v, if (v >= 9 || v == 2) 1 else 0))
      .toDF("score", "resp")
    val r = Analytics.liftTable(df, col("score"), col("resp"), buckets = 5)
      .orderBy("bucket").collect()
    assert(r.map(_.getAs[Long]("n_rows")).toSeq == Seq.fill(5)(2L))
    assert(r.map(_.getAs[Long]("resp_ppm")).toSeq ==
      Seq(2000000L, 0L, 0L, 0L, 1000000L))
    assert(r.head.getAs[Long]("rate_ppm") == 1000000L)
    // top bucket captures 2 of 3 responders in 1/5 the rows: lift
    // (2e6*10) div (2*3) = 3333333; full depth is exactly 1.0
    assert(r.head.getAs[Long]("cum_lift_ppm") == 3333333L)
    assert(r.last.getAs[Long]("cum_lift_ppm") == 1000000L)
    // a fully tied cell splits pro-rata: 4 rows of one score, 2
    // responders, 2 buckets -> each bucket gets 1e6 ppm and lift 1.0
    val tie = Seq((5L, 1), (5L, 0), (5L, 1), (5L, 0)).toDF("score", "resp")
    val rt = Analytics.liftTable(tie, col("score"), col("resp"), buckets = 2)
      .orderBy("bucket").collect()
    assert(rt.map(_.getAs[Long]("resp_ppm")).toSeq == Seq(1000000L, 1000000L))
    assert(rt.map(_.getAs[Long]("cum_lift_ppm")).toSeq == Seq(1000000L, 1000000L))
  }

  test("brownForsythe: hand F on median deviations; equal-spread groups null F") {
    // a = {0,4} (median rule picks 0 -> z = {0,4}), b = {0,0} (z = 0):
    // S=4 Q=16 A=8, grand=4 -> SSB=4 SSW=8 SST=12 -> F=(4/1)/(8/2)=1.0
    val df = Seq(("a", 0L), ("a", 4L), ("b", 0L), ("b", 0L)).toDF("g", "v")
    val r = Analytics.brownForsythe(df, col("g"), col("v")).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("f") == 1.0 && r.getAs[Double]("eta_sq") == 0.333333)
    // both groups constant: every deviation 0 -> SSW = 0 -> F null
    val const = Seq(("a", 5L), ("a", 5L), ("b", 7L), ("b", 7L)).toDF("g", "v")
    val rc = Analytics.brownForsythe(const, col("g"), col("v")).collect().head
    assert(rc.isNullAt(rc.fieldIndex("f")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("cochranArmitage: hand trend z2; flat rates 0; degenerate null") {
    // scores 1,2,3 with rates 1/10, 5/10, 9/10: TN = 30·38−15·60 = 240,
    // vd = 15·15·(30·140−3600) = 135000 -> z2 = 240²·30e6/135000 = 12.8
    def mk(spec: Seq[(Long, Int, Int)]) = spec.flatMap { case (w, n, r) =>
      (1 to n).map(i => (w, if (i <= r) 1 else 0))
    }.toDF("w", "s")
    val r = Analytics.cochranArmitage(
      mk(Seq((1L, 10, 1), (2L, 10, 5), (3L, 10, 9))), col("w"), col("s"))
      .collect().head
    assert(r.getAs[Long]("trend_num") == 240L)
    assert(r.getAs[Long]("z2_ppm") == 12800000L)
    assert(r.getAs[Boolean]("trend_99"))
    // identical rates: zero trend, not significant
    val rf = Analytics.cochranArmitage(
      mk(Seq((1L, 10, 5), (2L, 10, 5), (3L, 10, 5))), col("w"), col("s"))
      .collect().head
    assert(rf.getAs[Long]("z2_ppm") == 0L && !rf.getAs[Boolean]("trend_95"))
    // all failures: variance degenerates -> null z2
    val rd = Analytics.cochranArmitage(
      mk(Seq((1L, 5, 0), (2L, 5, 0))), col("w"), col("s")).collect().head
    assert(rd.isNullAt(rd.fieldIndex("z2_ppm")))
  }

  test("groupedWeightedQuantiles: weight-CDF rule; unit weights reduce to exact quantiles") {
    // values 1,2,3 with weights 1,1,8: W=10, median rank ceil(5)=5 ->
    // first value whose cum weight >= 5 is 3; p10 -> 1
    val df = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 8L)).toDF("g", "v", "w")
    val r = Analytics.groupedWeightedQuantiles(df, col("g"), col("v"), col("w"),
      Seq(0.1, 0.5)).orderBy("p").collect()
    assert(r.map(x => (x.getDouble(1), x.getLong(2))).toSeq ==
      Seq((0.1, 1L), (0.5, 3L)))
    assert(r.head.getAs[Long]("w") == 10L)
    // weight 1 == groupedExactQuantiles
    val u = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L)).toDF("g", "v")
    val wq = Analytics.groupedWeightedQuantiles(u, col("g"), col("v"), lit(1L),
      Seq(0.5)).collect().head.getLong(2)
    val eq = Analytics.groupedExactQuantiles(u, col("g"), col("v"), Seq(0.5))
      .collect().head.getAs[Long]("value")
    assert(wq == eq)
  }

  test("kendallTauB: +-1 at perfect (dis)concordance, tie-corrected 0, constant null") {
    val up = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val r = Analytics.kendallTauB(up, col("x"), col("y")).collect().head
    assert(r.getAs[Long]("s") == 3L && r.getAs[Long]("n0") == 3L)
    assert(r.getAs[Double]("tau_b") == 1.0)
    val down = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("x", "y")
    assert(Analytics.kendallTauB(down, col("x"), col("y"))
      .collect().head.getAs[Double]("tau_b") == -1.0)
    // 2x2 independent grid: S = 0 with n1 = n2 = 2 tie pairs
    val grid = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("x", "y")
    val rg = Analytics.kendallTauB(grid, col("x"), col("y")).collect().head
    assert(rg.getAs[Long]("s") == 0L && rg.getAs[Long]("n1") == 2L &&
      rg.getAs[Long]("n2") == 2L && rg.getAs[Double]("tau_b") == 0.0)
    // concordance family: x = {1,1,2}, y = {1,2,2} — pairs (1,1)-(2,2)
    // concordant, (1,2)-(2,2) x differs y tied, (1,1)-(1,2) x tied:
    // S = 1, C+D = 1 -> gamma 1.0; n0 = 3, n1 = 1 -> somers_d = 0.5
    val fam = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("x", "y")
    val rf = Analytics.kendallTauB(fam, col("x"), col("y")).collect().head
    assert(rf.getAs[Long]("s") == 1L)
    assert(rf.getAs[Double]("gamma") == 1.0)
    assert(rf.getAs[Double]("somers_d") == 0.5)
    // constant x: every pair x-tied -> n0 == n1 -> tau, somers null;
    // gamma null too (C+D = 0)
    val const = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("x", "y")
    val rc = Analytics.kendallTauB(const, col("x"), col("y")).collect().head
    assert(rc.isNullAt(rc.fieldIndex("tau_b")) &&
      rc.isNullAt(rc.fieldIndex("gamma")) &&
      rc.isNullAt(rc.fieldIndex("somers_d")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("cohensD: hand pooled-SD effect; constant arms null") {
    // a = {0,2}, b = {4,6}: pooled sp = sqrt2 -> d = -4/sqrt2 =
    // -2.828427; g = d·(1 − 3/7) = -1.616244
    val df = Seq(("a", 0L), ("a", 2L), ("b", 4L), ("b", 6L)).toDF("arm", "v")
    val r = Analytics.cohensD(df, col("arm"), col("v"), "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("d") == -2.828427)
    assert(r.getAs[Double]("g") == -1.616244)
    // zero variance in both arms: null effect
    val const = Seq(("a", 5L), ("a", 5L), ("b", 3L), ("b", 3L)).toDF("arm", "v")
    val rc = Analytics.cohensD(const, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("d")))
  }

  test("pChart: hand 3-sigma limits, LCL clamp, degenerate pooled rate") {
    // pooled pbar = 0.45 over two 20-trial days: limits are
    // 0.45 ± 3*sqrt(0.45*0.55/20) ~ [0.116, 0.784] — the 0/20 day
    // breaches low, the 18/20 day breaches high
    val df1 = (Seq.fill(20)(("d1", 0L)) ++ Seq.fill(18)(("d2", 1L)) ++
      Seq.fill(2)(("d2", 0L))).toDF("day", "ok")
    val out = Analytics.pChart(df1, col("day"), col("ok")).collect()
    val d1 = out.find(_.getString(0) == "d1").get
    val d2 = out.find(_.getString(0) == "d2").get
    assert(d1.getAs[Double]("phat") == 0.0 && d2.getAs[Double]("phat") == 0.9)
    assert(d1.getAs[Double]("lcl") > 0.11 && d1.getAs[Double]("ucl") < 0.79)
    assert(d1.getAs[Boolean]("out_low") && !d1.getAs[Boolean]("out_high"))
    assert(!d2.getAs[Boolean]("out_low") && d2.getAs[Boolean]("out_high"))
    // rare successes: LCL clamps to exactly 0, a zero day is IN control
    val rare = (Seq.fill(10)(("d1", 0L)) ++ Seq.fill(9)(("d2", 0L)) ++
      Seq(("d2", 1L))).toDF("day", "ok")
    val r0 = Analytics.pChart(rare, col("day"), col("ok")).collect()
      .find(_.getString(0) == "d1").get
    assert(r0.getAs[Double]("lcl") == 0.0 && !r0.getAs[Boolean]("out_low"))
    // all-success pool: se = 0, limits collapse to 1, nothing flags
    val full = Seq(("d1", 1L), ("d2", 1L)).toDF("day", "ok")
    assert(Analytics.pChart(full, col("day"), col("ok")).collect()
      .forall(r => !r.getAs[Boolean]("out_low") && !r.getAs[Boolean]("out_high")))
  }

  test("giniMeanDifference: hand pair gaps, population gini parity, degenerate null") {
    // {0,2}: sum|gaps| = 4 -> GMD = 4/2 = 2; pop gini = 4/(2*4*1) = 0.5
    val df1 = Seq(0L, 2L).toDF("v")
    val r = Analytics.giniMeanDifference(df1, col("v")).collect().head
    assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("support") == 2L)
    assert(r.getAs[Long]("gmd_ppm") == 2000000L)
    assert(r.getAs[Long]("gini_ppm") == 500000L)
    // one holder of everything: {0,0,0,4} -> GMD 2, gini 0.75
    val conc = Seq(0L, 0L, 0L, 4L).toDF("v")
    val rc = Analytics.giniMeanDifference(conc, col("v")).collect().head
    assert(rc.getAs[Long]("gmd_ppm") == 2000000L &&
      rc.getAs[Long]("gini_ppm") == 750000L)
    // constant values: zero spread, zero inequality
    val const = Seq(3L, 3L, 3L).toDF("v")
    val rk = Analytics.giniMeanDifference(const, col("v")).collect().head
    assert(rk.getAs[Long]("gmd_ppm") == 0L && rk.getAs[Long]("gini_ppm") == 0L)
    // single row: both undefined
    val one = Seq(7L).toDF("v")
    val ro = Analytics.giniMeanDifference(one, col("v")).collect().head
    assert(ro.isNullAt(ro.fieldIndex("gmd_ppm")) &&
      ro.isNullAt(ro.fieldIndex("gini_ppm")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("brunnerMunzel: hand placements, tie handling, separation degenerates") {
    // x = {1,3}, y = {2,4}: Sx2 = Sy2 = 0.5, gap 1 ->
    // w = 4/(4*sqrt2) = 0.707107, df = 2, phat = 3/4
    val df1 = Seq(("x", 1L), ("x", 3L), ("y", 2L), ("y", 4L)).toDF("g", "v")
    val r = Analytics.brunnerMunzel(df1, col("g"), col("v"), "x", "y")
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("phat_ppm") == 750000L)
    assert(r.getAs[Double]("w") == 0.707107)
    assert(r.getAs[Double]("df") == 2.0)
    // ties: x = {1,1}, y = {1,2}: Sx2 = 0, Sy2 = 0.5 -> w = 1, df = 1
    val tied = Seq(("x", 1L), ("x", 1L), ("y", 1L), ("y", 2L)).toDF("g", "v")
    val rt = Analytics.brunnerMunzel(tied, col("g"), col("v"), "x", "y")
      .collect().head
    assert(rt.getAs[Long]("phat_ppm") == 750000L)
    assert(rt.getAs[Double]("w") == 1.0 && rt.getAs[Double]("df") == 1.0)
    // complete separation: both placement variances vanish -> w/df
    // null (BM undefined), the exact relative effect still lands at 1
    val sep = Seq(("x", 1L), ("x", 2L), ("y", 3L), ("y", 4L)).toDF("g", "v")
    val rs = Analytics.brunnerMunzel(sep, col("g"), col("v"), "x", "y")
      .collect().head
    assert(rs.getAs[Long]("phat_ppm") == 1000000L)
    assert(rs.isNullAt(rs.fieldIndex("w")) && rs.isNullAt(rs.fieldIndex("df")))
    // empty arm: everything but counts null
    val solo = Seq(("x", 1L)).toDF("g", "v")
    val re = Analytics.brunnerMunzel(solo, col("g"), col("v"), "x", "y")
      .collect().head
    assert(re.getAs[Long]("n_b") == 0L &&
      re.isNullAt(re.fieldIndex("phat_ppm")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("energyDistance: hand interval terms, pure shift doubling, zero at equality") {
    // a = {0,2}, b = {1,3}: AB=6, AA=4, BB=4 ->
    // E = 2*6/4 - 4/4 - 4/4 = 1
    val df = Seq(("a", 0L), ("a", 2L), ("b", 1L), ("b", 3L)).toDF("g", "v")
    val r = Analytics.energyDistance(df, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("support") == 4L)
    assert(r.getAs[Long]("e_ppm") == 1000000L)
    // point masses distance 5 apart: E = 2*5 = 10
    val shift = Seq(("a", 0L), ("a", 0L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    assert(Analytics.energyDistance(shift, col("g"), col("v"), "a", "b")
      .collect().head.getAs[Long]("e_ppm") == 10000000L)
    // identical samples: E = 0
    val same = Seq(("a", 3L), ("a", 9L), ("b", 3L), ("b", 9L)).toDF("g", "v")
    assert(Analytics.energyDistance(same, col("g"), col("v"), "a", "b")
      .collect().head.getAs[Long]("e_ppm") == 0L)
    // same mean, different spread: a = {2,2}, b = {1,3} ->
    // AB = 4, AA = 0, BB = 4 -> E = 2*4/4 - 0 - 4/4 = 1
    val spread = Seq(("a", 2L), ("a", 2L), ("b", 1L), ("b", 3L)).toDF("g", "v")
    assert(Analytics.energyDistance(spread, col("g"), col("v"), "a", "b")
      .collect().head.getAs[Long]("e_ppm") == 1000000L)
    // empty arm -> null
    val solo = Seq(("a", 1L)).toDF("g", "v")
    assert(Analytics.energyDistance(solo, col("g"), col("v"), "a", "b")
      .collect().head.isNullAt(3))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("dunnTest: hand z per pair, tie correction, degenerate null, pair order") {
    // a = {1,2}, b = {3,4}: mean ranks 1.5 vs 3.5, sigma2 = 5/3 ->
    // z = -2/sqrt(5/3) = -1.549193
    val two = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val r = Analytics.dunnTest(two, col("g"), col("v")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("g1") == "a" && r.head.getAs[String]("g2") == "b")
    assert(r.head.getAs[Double]("z") == -1.549193)
    assert(!r.head.getAs[Boolean]("sig_95"))
    // fully separated 3+3: z = -3/sqrt(3.5*2/3) = -1.963961 — just
    // past the 1.959964 fence but not the 99% one
    val sep = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 20L), ("b", 30L)).toDF("g", "v")
    val rs = Analytics.dunnTest(sep, col("g"), col("v")).collect().head
    assert(rs.getAs[Double]("z") == -1.963961)
    assert(rs.getAs[Boolean]("sig_95") && !rs.getAs[Boolean]("sig_99"))
    // ties shrink sigma2: a = {1,1}, b = {2,2} -> z = -sqrt(3)
    val tied = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L)).toDF("g", "v")
    assert(Analytics.dunnTest(tied, col("g"), col("v"))
      .collect().head.getAs[Double]("z") == -1.732051)
    // every value identical: variance degenerates -> z null
    val const = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("g", "v")
    val rc = Analytics.dunnTest(const, col("g"), col("v")).collect()
    assert(rc.length == 3 && rc.forall(_.isNullAt(4)))
    // three groups emit each unordered pair once, name-ordered
    assert(rc.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("wasserstein1: hand CDF-gap integrals, pure shift, empty-arm null") {
    // a = {0,2}, b = {1,3}: |F-gaps| 2,0,2 over unit intervals ->
    // num 4 / den 4 -> W1 = 1 (the optimal 0->1, 2->3 matching)
    val df = Seq(("a", 0L), ("a", 2L), ("b", 1L), ("b", 3L)).toDF("g", "v")
    val r = Analytics.wasserstein1(df, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L &&
      r.getAs[Long]("support") == 4L)
    assert(r.getAs[Long]("w1_num") == 4L)
    assert(r.getAs[Long]("w1_ppm") == 1000000L)
    // a pure shift by 5 moves every unit of mass 5: W1 = 5
    val shift = Seq(("a", 0L), ("a", 0L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val rs = Analytics.wasserstein1(shift, col("g"), col("v"), "a", "b")
      .collect().head
    assert(rs.getAs[Long]("support") == 2L &&
      rs.getAs[Long]("w1_ppm") == 5000000L)
    // identical samples: zero distance
    val same = Seq(("a", 3L), ("a", 9L), ("b", 3L), ("b", 9L)).toDF("g", "v")
    assert(Analytics.wasserstein1(same, col("g"), col("v"), "a", "b")
      .collect().head.getAs[Long]("w1_ppm") == 0L)
    // one arm empty: counts land, distance null
    val solo = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val re = Analytics.wasserstein1(solo, col("g"), col("v"), "a", "b")
      .collect().head
    assert(re.getAs[Long]("n_a") == 2L && re.getAs[Long]("n_b") == 0L &&
      re.getAs[Long]("w1_num") == 0L &&
      re.isNullAt(re.fieldIndex("w1_ppm")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("cliffsDelta: hand pair counts, antisymmetry, empty arm null") {
    // a = {1,2,3}, b = {0,2}: gt = 4, lt = 1, eq = 1 over 6 pairs ->
    // delta = 3/6 = 0.5 (large), A = (2*4+1)/12 = 0.75
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 0L), ("b", 2L))
      .toDF("arm", "v")
    val r = Analytics.cliffsDelta(df, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("gt") == 4L && r.getAs[Long]("lt") == 1L &&
      r.getAs[Long]("eq") == 1L)
    assert(r.getAs[Long]("delta_ppm") == 500000L)
    assert(r.getAs[Long]("vda_ppm") == 750000L)
    assert(r.getAs[String]("magnitude") == "large")
    // swapped arms: delta negates exactly, A complements exactly
    val s = Analytics.cliffsDelta(df, col("arm"), col("v"), "b", "a")
      .collect().head
    assert(s.getAs[Long]("delta_ppm") == -500000L)
    assert(s.getAs[Long]("vda_ppm") == 250000L)
    // identical arms: pure ties -> delta 0 (negligible), A = 1/2
    val same = Seq(("a", 7L), ("b", 7L)).toDF("arm", "v")
    val t = Analytics.cliffsDelta(same, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(t.getAs[Long]("delta_ppm") == 0L &&
      t.getAs[Long]("vda_ppm") == 500000L &&
      t.getAs[String]("magnitude") == "negligible")
    // an empty arm: counts land, effect columns null
    val solo = Seq(("a", 1L)).toDF("arm", "v")
    val e = Analytics.cliffsDelta(solo, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(e.getAs[Long]("n_a") == 1L && e.getAs[Long]("n_b") == 0L)
    assert(e.isNullAt(e.fieldIndex("delta_ppm")) &&
      e.isNullAt(e.fieldIndex("vda_ppm")) &&
      e.isNullAt(e.fieldIndex("magnitude")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("matchedAtt: per-stratum exact micros terms; single-arm strata drop") {
    val df = Seq(
      ("s1", true, 10L), ("s1", false, 2L), ("s1", false, 4L),
      ("s2", true, 5L), ("s2", true, 7L), ("s2", false, 1L),
      ("s3", true, 9L) // no control -> unmatched
    ).toDF("s", "arm", "y")
    val r = Analytics.matchedAtt(df, col("s"), col("arm"), col("y"))
      .collect().head
    // s1: m=1, (10·2 − 6·1)/2 = 7 -> 7e6; s2: m=1, (12−2)/2 = 5 -> 5e6
    // att = (7e6 + 5e6) div 2 = 6e6
    assert(r.getAs[Long]("strata_total") == 3L)
    assert(r.getAs[Long]("strata_used") == 2L)
    assert(r.getAs[Long]("n_matched") == 2L)
    assert(r.getAs[Long]("att_micros") == 6000000L)
  }

  test("mantelHaenszel: pooled OR exact; balanced table OR 1 chi2 0") {
    def mk(spec: Seq[(String, Int, Int, Int, Int)]) = spec.flatMap {
      case (s, a, b, c, d) =>
        Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
          Seq.fill(c)((s, false, true)) ++ Seq.fill(d)((s, false, false))
    }.toDF("s", "arm", "succ")
    // perfectly balanced: OR 1, A == E -> chi2 0
    val bal = Analytics.mantelHaenszel(
      mk(Seq(("x", 2, 2, 2, 2))), col("s"), col("arm"), col("succ"))
      .collect().head
    assert(bal.getAs[Double]("or_mh") == 1.0)
    assert(bal.getAs[Double]("chi2_cmh") == 0.0)
    // two strata, both OR 9 (3:1 vs 1:3 at n=8, doubled at n=16):
    // SAD = 1.125 + 2.25, SBC = 0.125 + 0.25 -> pooled OR exactly 9;
    // A=9 E=6, V = round(256/448) + round(4096/3840) = 1.638096
    val r = Analytics.mantelHaenszel(
      mk(Seq(("s1", 3, 1, 1, 3), ("s2", 6, 2, 2, 6))),
      col("s"), col("arm"), col("succ")).collect().head
    assert(r.getAs[Long]("strata") == 2L && r.getAs[Long]("n") == 24L)
    assert(r.getAs[Double]("or_mh") == 9.0)
    val expChi = BigDecimal(9.0 / 1.638096)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("chi2_cmh") == expChi)
  }

  test("cramerVonMises: hand CDF-gap squares; identical samples give 0") {
    // a = {1,2}, b = {2,3}: gaps d = m·cumA − n·cumB at v=1,2,3 are
    // 2,2,0 with multiplicities 1,2,1 -> num = 4 + 8 + 0 = 12,
    // den = 2·2·(4)² = 64 -> t_ppm = 12e6 div 64 = 187500
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = Analytics.cramerVonMises(df, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 187500L)
    // identical distributions: every gap 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    val r0 = Analytics.cramerVonMises(same, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r0.getLong(2) == 0L)
    // disjoint supports maximize the integrated gap: a={1,2}, b={3,4}
    // gaps at 1,2: m·cumA = 2,4; at 3,4: 4−2=2, 4−4=0 -> terms
    // 4+16+4+0 = 24... wait: v=1 d=2 c=1 -> 4; v=2 d=4 c=1 -> 16;
    // v=3 d=4−2·1=2 c=1 -> 4; v=4 d=0 -> num 24, t_ppm = 24e6 div 64
    val dis = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val rd = Analytics.cramerVonMises(dis, col("g"), col("v"), "a", "b")
      .collect().head
    assert(rd.getLong(2) == 375000L)
  }

  test("gumbelFit: hand moment fit; translation shifts location only") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // period 1: maxima are the values {1,2,3}: mean 2, s = 1
    val df = Seq(("s", 0L, 1L), ("s", 1L, 2L), ("s", 2L, 3L))
      .toDF("k", "t", "x")
    val r = Analytics.gumbelFit(df, col("k"), col("t"), col("x"),
      period = 1L, returnPeriod = 52L).collect().head
    val beta = 1.0 * Analytics.GumbelC1
    val mu = 2.0 - Analytics.GumbelGamma * beta
    val rl = mu - beta * math.log(-math.log(1.0 - 1.0 / 52.0))
    assert(r.getAs[Long]("n_blocks") == 3L)
    assert(r.getAs[Double]("mean_max") == 2.0d)
    assert(r.getAs[Double]("beta") == r6(beta))
    assert(r.getAs[Double]("mu") == r6(mu))
    assert(r.getAs[Double]("rl") == r6(rl))
    // blocking: period 2 takes per-block maxima first
    val blocked = Seq(("s", 0L, 5L), ("s", 1L, 9L), ("s", 2L, 1L),
      ("s", 3L, 7L)).toDF("k", "t", "x")
    val rb = Analytics.gumbelFit(blocked, col("k"), col("t"), col("x"),
      period = 2L, returnPeriod = 52L).collect().head
    assert(rb.getAs[Long]("n_blocks") == 2L)
    assert(rb.getAs[Double]("mean_max") == 8.0d) // maxima {9, 7}
    // translation invariance: +1000 shifts mu/rl, leaves beta
    val shifted = Analytics.gumbelFit(
      df.withColumn("x", col("x") + 1000L), col("k"), col("t"), col("x"),
      period = 1L, returnPeriod = 52L).collect().head
    assert(shifted.getAs[Double]("beta") == r.getAs[Double]("beta"))
    assert(shifted.getAs[Double]("mu") ==
      r6(1002.0 - Analytics.GumbelGamma * beta))
    // single block: no spread to fit -> null beta/mu/rl
    val one = Seq(("s", 0L, 5L)).toDF("k", "t", "x")
    val ro = Analytics.gumbelFit(one, col("k"), col("t"), col("x"),
      period = 1L).collect().head
    assert(ro.isNullAt(3) && ro.isNullAt(4) && ro.isNullAt(5))
  }

  test("allanVariance: white alternator averages away, drift grows with m") {
    // alternating ±1 over 8 ticks: m=1 -> 7 deltas of ±2 -> avar 2.0;
    // any even block size sums to 0 -> avar 0 (noise averages away)
    val alt = (0 until 8).map(i => ("s", i.toLong,
      if (i % 2 == 0) 1L else -1L)).toDF("k", "t", "x")
    val ra = Analytics.allanVariance(alt, col("k"), Seq(col("t")), col("x"),
      sizes = Seq(1, 2, 4))
      .collect().map(r => r.getLong(1) -> r.getAs[Long]("avar_micros")).toMap
    assert(ra(1L) == 2000000L && ra(2L) == 0L && ra(4L) == 0L)
    // linear ramp 0..7: drift -> avar RISES with m (0.5, 2.0, 8.0)
    val ramp = (0 until 8).map(i => ("s", i.toLong, i.toLong))
      .toDF("k", "t", "x")
    val rr = Analytics.allanVariance(ramp, col("k"), Seq(col("t")), col("x"),
      sizes = Seq(1, 2, 4))
      .collect().map(r => r.getLong(1) -> r.getAs[Long]("avar_micros")).toMap
    assert(rr(1L) == 500000L && rr(2L) == 2000000L && rr(4L) == 8000000L)
    // a size with fewer than 2 full blocks reports null
    val short = (0 until 5).map(i => ("s", i.toLong, i.toLong))
      .toDF("k", "t", "x")
    val rs = Analytics.allanVariance(short, col("k"), Seq(col("t")), col("x"),
      sizes = Seq(4)).collect()
    assert(rs.length == 1 && rs.head.isNullAt(3))
  }

  test("hurstExponent: ramp scales like H=1, alternator pins H=0 exactly") {
    // alternating ±1: every block has R = m·1 and √(mQ−S²) = m, so
    // R/S = 1 at EVERY size -> all ln-terms 0 -> slope exactly 0
    val alt = (0 until 256).map(i => ("s", i.toLong,
      if (i % 2 == 0) 1L else -1L)).toDF("k", "t", "x")
    val ra = Analytics.hurstExponent(alt, col("k"), Seq(col("t")), col("x"))
      .collect().head
    assert(ra.getAs[Long]("n") == 256L)
    assert(ra.getAs[Double]("hurst") == 0.0d)
    // linear ramp: R/S grows ∝ m (R = m²/8 vs S ≈ m/√12) -> H -> 1
    val ramp = (0 until 256).map(i => ("s", i.toLong, i.toLong))
      .toDF("k", "t", "x")
    val rr = Analytics.hurstExponent(ramp, col("k"), Seq(col("t")), col("x"))
      .collect().head.getAs[Double]("hurst")
    assert(rr > 0.95d && rr < 1.05d, s"ramp hurst = $rr")
    // partition-layout-proof: decimal block terms, fixed-shape slope
    val many = Analytics.hurstExponent(alt.repartition(7), col("k"),
      Seq(col("t")), col("x")).collect().head.getAs[Double]("hurst")
    assert(many == 0.0d)
    // a series too short for a full 64-block reports null, not junk
    val short = (0 until 50).map(i => ("s", i.toLong, i.toLong))
      .toDF("k", "t", "x")
    assert(Analytics.hurstExponent(short, col("k"), Seq(col("t")), col("x"))
      .collect().head.isNullAt(2))
  }

  test("theilIndex: decomposition collapses to between when groups are flat") {
    // a = {1,1}, b = {2}: within-group values are flat -> T_w = 0 and
    // T = T_b = 0.5·ln(0.75) + 0.5·ln(1.5) -> 0.058892
    val df = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("g", "v")
    val r = Analytics.theilIndex(df, col("g"), col("v")).collect().head
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("theil_total") == 0.058892d)
    assert(r.getAs[Double]("theil_between") == 0.058892d)
    assert(r.getAs[Double]("theil_within") == 0.0d)
    // perfectly equal corpus: all three readouts are 0
    val eq = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val re = Analytics.theilIndex(eq, col("g"), col("v")).collect().head
    assert(re.getAs[Double]("theil_total") == 0.0d)
    assert(re.getAs[Double]("theil_between") == 0.0d)
    assert(re.getAs[Double]("theil_within") == 0.0d)
    // one-group skew: all inequality is within
    val sk = Seq(("a", 1L), ("a", 3L)).toDF("g", "v")
    val rs = Analytics.theilIndex(sk, col("g"), col("v")).collect().head
    assert(rs.getAs[Double]("theil_between") == 0.0d)
    assert(rs.getAs[Double]("theil_within") == rs.getAs[Double]("theil_total"))
    // zero values are excluded, not ln(0)
    val wz = Seq(("a", 0L), ("a", 1L), ("b", 1L)).toDF("g", "v")
    assert(Analytics.theilIndex(wz, col("g"), col("v"))
      .collect().head.getAs[Long]("n") == 2L)
  }

  test("pacf: alternating series hand values; level-3 matches the recursion") {
    // x = ±1 over 8 days (mean 0): rho1 = −7/8, rho2 = 6/8, rho3 = −5/8
    // (all exact dyadics) -> pacf1 = −875000 ppm;
    // pacf2 = (0.75 − 0.765625)/0.234375 = −1/15 -> −66667 ppm
    val df = (1 to 8).map(i => ("s", i.toLong, if (i % 2 == 0) -1L else 1L))
      .toDF("k", "day", "cents")
    val r = Analytics.pacf(df, col("k"), Seq(col("day")), col("cents"))
      .collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Long]("pacf1_ppm") == -875000L)
    assert(r.getAs[Long]("pacf2_ppm") == -66667L)
    // level 3: replicate the recursion in the same IEEE order
    val r1 = -7.0 / 8.0; val r2 = 6.0 / 8.0; val r3 = -5.0 / 8.0
    val p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val p21 = r1 - p22 * r1
    val exp3 = math.round(
      (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2) * 1000000.0)
    assert(r.getAs[Long]("pacf3_ppm") == exp3)
    // short series (n <= 3) reports null at every level
    val short3 = Seq(("s", 1L, 5L), ("s", 2L, 9L), ("s", 3L, 2L))
      .toDF("k", "day", "cents")
    val rs = Analytics.pacf(short3, col("k"), Seq(col("day")), col("cents"))
      .collect().head
    assert(rs.isNullAt(2) && rs.isNullAt(3) && rs.isNullAt(4))
  }

  test("crossCorr: hand moments at lead/zero/lag; sparse lags go null") {
    // ticks 1..4: x = (1,2,3,4), y = (5,1,2,3)
    val df = Seq((1L, 1L, 5L), (2L, 2L, 1L), (3L, 3L, 2L), (4L, 4L, 3L))
      .toDF("t", "x", "y")
    val out = Analytics.crossCorr(df, col("t"), col("x"), col("y"),
      Seq(-1, 0, 1, 3))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // lag −1: x_t vs y_{t+1} -> (1,1),(2,2),(3,3): perfectly linear
    assert(out(-1L) == ((3L, Some(1.0d))))
    // lag 0: r = −10/√(20·35) -> −0.377964
    assert(out(0L) == ((4L, Some(-0.377964d))))
    // lag +1: x_t vs y_{t−1} -> (2,5),(3,1),(4,2): r = −9/√(6·26)
    assert(out(1L) == ((3L, Some(-0.720577d))))
    // lag 3 has a single aligned pair -> below minPairs, null
    assert(out(3L) == ((1L, None)))
  }

  test("partialCorr: controlling the confounder recovers the clean relation") {
    // y = x + z with x ⊥ z: raw r_xy = 0.707107, but holding z fixed
    // y IS x -> partial exactly 1
    val df = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 2L), (2L, 4L, 2L))
      .toDF("x", "y", "z")
    val r = Analytics.partialCorr(df, col("x"), col("y"), col("z"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("r_xy") == 0.707107d)
    assert(r.getAs[Double]("r_xz") == 0.0d)
    assert(r.getAs[Double]("r_yz") == 0.707107d)
    assert(r.getAs[Double]("r_xy_z") == 1.0d)
    // collinear control (z = x): the (1−r²) factor degenerates -> null
    val coll = Seq((1L, 5L, 1L), (2L, 6L, 2L), (3L, 9L, 3L))
      .toDF("x", "y", "z")
    val rc = Analytics.partialCorr(coll, col("x"), col("y"), col("z"))
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("r_xy_z")))
    // constant column -> everything null
    val flat = Seq((1L, 2L, 7L), (2L, 3L, 7L)).toDF("x", "y", "z")
    val rf = Analytics.partialCorr(flat, col("x"), col("y"), col("z"))
      .collect().head
    assert(rf.isNullAt(1) && rf.isNullAt(4))
  }

  test("yuenTest: hand trimmed/winsorized arms; outlier can't move it") {
    // a = {0,1,2,3,100} (one huge outlier), b = {10..14}, α = 0.2:
    // t=1, h=3 each; fences a: (1,3), b: (11,13); trimmed means 2 / 12;
    // winsorized N = 20 both -> d = 2/3 each;
    // t = −10/√(4/3) = −8.660254, Welch df = 4
    val df = Seq(("a", 0L), ("a", 1L), ("a", 2L), ("a", 3L), ("a", 100L),
      ("b", 10L), ("b", 11L), ("b", 12L), ("b", 13L), ("b", 14L))
      .toDF("arm", "v")
    val r = Analytics.yuenTest(df, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("h_a") == 3L)
    assert(r.getAs[Double]("tm_a") == 2.0d && r.getAs[Double]("tm_b") == 12.0d)
    assert(r.getAs[Double]("t") == -8.660254d)
    assert(r.getAs[Double]("df") == 4.0d)
    // making the outlier 100× bigger changes NOTHING (robustness)
    val worse = df.withColumn("v",
      when(col("v") === 100L, 10000L).otherwise(col("v")))
    val rw = Analytics.yuenTest(worse, col("arm"), col("v"), "a", "b")
      .collect().head
    assert(rw.getAs[Double]("t") == -8.660254d && rw.getAs[Double]("df") == 4.0d)
    // degenerate: all-constant winsorized arms -> null t
    val flat = Seq(("a", 5L), ("a", 5L), ("a", 5L),
      ("b", 9L), ("b", 9L), ("b", 9L)).toDF("arm", "v")
    val rf = Analytics.yuenTest(flat, col("arm"), col("v"), "a", "b",
      alphaPpm = 0L).collect().head
    assert(rf.isNullAt(rf.fieldIndex("t")))
  }

  test("groupedMoments: textbook shapes incl. a fractional-mean shift") {
    // {1,2,3}: symmetric -> skew 0, kurt −1.5 (flat three-point)
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      // {0,0,0,4}: Bernoulli-shaped -> skew 1.154701, kurt −0.666667
      ("b", 0L), ("b", 0L), ("b", 0L), ("b", 4L),
      // {0,1}: δ = 0.5 exercises the shift identity -> kurt −2
      ("c", 0L), ("c", 1L)).toDF("g", "v")
    val out = Analytics.groupedMoments(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Double]("mean") == 2.0d)
    assert(a.getAs[Double]("skewness") == 0.0d)
    assert(a.getAs[Double]("kurtosis_excess") == -1.5d)
    val b = out("b")
    assert(b.getAs[Double]("mean") == 1.0d)
    assert(b.getAs[Double]("skewness") == 1.154701d)
    assert(b.getAs[Double]("kurtosis_excess") == -0.666667d)
    val c = out("c")
    assert(c.getAs[Double]("mean") == 0.5d)
    assert(c.getAs[Double]("skewness") == 0.0d)
    assert(c.getAs[Double]("kurtosis_excess") == -2.0d)
    // constant group: zero variance -> null shape moments, mean kept
    val const = Seq(("z", 7L), ("z", 7L)).toDF("g", "v")
    val rz = Analytics.groupedMoments(const, col("g"), col("v"))
      .collect().head
    assert(rz.getAs[Double]("mean") == 7.0d && rz.isNullAt(3) && rz.isNullAt(4))
  }

  test("concordanceCcc: identity agrees, scaled line doesn't; Pearson beside") {
    // y = x exactly: CCC = r = c_b = 1
    val same = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val rs = Analytics.concordanceCcc(same, col("x"), col("y")).collect().head
    assert(rs.getAs[Double]("ccc") == 1.0d && rs.getAs[Double]("r") == 1.0d)
    assert(rs.getAs[Double]("c_b") == 1.0d)
    // y = 2x: perfectly linear (r = 1) but NOT concordant:
    // Sxx = 6, Syy = 24, Sxy = 12, D² = (6−12)² = 36 ->
    // ccc = 24/66 = 0.363636
    val scaled = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    val rc = Analytics.concordanceCcc(scaled, col("x"), col("y"))
      .collect().head
    assert(rc.getAs[Double]("r") == 1.0d)
    assert(rc.getAs[Double]("ccc") == 0.363636d)
    assert(rc.getAs[Double]("c_b") == 0.363636d)
    // constant y: degenerate variance -> nulls
    val flat = Seq((1L, 5L), (2L, 5L)).toDF("x", "y")
    val rf = Analytics.concordanceCcc(flat, col("x"), col("y")).collect().head
    assert(rf.isNullAt(1) && rf.isNullAt(2) && rf.isNullAt(3))
  }

  test("runningRecords: strict records counted; ties and dips don't") {
    // 3,1,4,4,5 -> records at t=1 (3), t=3 (4), t=5 (5); the tie at
    // t=4 is NOT a record
    val df = Seq(("s", 1L, 3L), ("s", 2L, 1L), ("s", 3L, 4L),
      ("s", 4L, 4L), ("s", 5L, 5L)).toDF("k", "t", "x")
    val r = Analytics.runningRecords(df, col("k"), col("t"), col("x"))
      .collect().head
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_records") == 3L)
    assert(r.getAs[Long]("last_record_tick") == 5L)
    assert(r.getAs[Long]("max_value") == 5L)
    // strictly decreasing: only the first row records
    val dec = Seq(("s", 1L, 9L), ("s", 2L, 8L), ("s", 3L, 7L))
      .toDF("k", "t", "x")
    val rd = Analytics.runningRecords(dec, col("k"), col("t"), col("x"))
      .collect().head
    assert(rd.getAs[Long]("n_records") == 1L &&
      rd.getAs[Long]("last_record_tick") == 1L)
  }

  test("mahalanobisOutliers: ridge-breaking point tops; degenerate det empties") {
    // square corners + one far point on the x-axis: the far point is
    // n=5, moments -> S = (344, 24, −36), det 6960, u=36, v=−4:
    // d² = 0.8·26240/6960 = 3.016092
    val df = Seq((1L, 0L, 0L), (2L, 2L, 0L), (3L, 0L, 2L), (4L, 2L, 2L),
      (5L, 10L, 0L)).toDF("id", "x", "y")
    val out = Analytics.mahalanobisOutliers(df, col("id"), col("x"),
      col("y"), k = 2).collect()
    assert(out.head.getLong(0) == 5L)
    assert(out.head.getAs[Double]("d2") == 3.016092d)
    // symmetric square alone: all four points equidistant, ties break
    // by id ascending
    val sq = df.where(col("id") <= 4L)
    val rs = Analytics.mahalanobisOutliers(sq, col("id"), col("x"),
      col("y"), k = 3).collect()
    assert(rs.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rs.forall(_.getAs[Double]("d2") == 1.5d))
    // a constant column degenerates the covariance: empty, not junk
    val flat = Seq((1L, 5L, 1L), (2L, 5L, 2L)).toDF("id", "x", "y")
    assert(Analytics.mahalanobisOutliers(flat, col("id"), col("x"),
      col("y")).collect().isEmpty)
  }

  test("grubbs: exact integer G² on the cell frame; min value on ties") {
    // {1,2,3,14}: M = max|4v−20| = 36 at v=14;
    // G² = 36²·3 / (4·(4·210−400)) = 3888/1760 -> 2209090 ppm
    val df = Seq(1L, 2L, 3L, 14L).toDF("v")
    val r = Analytics.grubbs(df, col("v")).collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("at_value") == 14L)
    assert(r.getAs[Long]("g2_ppm") == 2209090L)
    // symmetric pair: both values tie at M = 10 -> smallest reported;
    // n = 2 pins G² = 1/2 exactly
    val two = Seq(0L, 10L).toDF("v")
    val r2 = Analytics.grubbs(two, col("v")).collect().head
    assert(r2.getAs[Long]("at_value") == 0L)
    assert(r2.getAs[Long]("g2_ppm") == 500000L)
    // constant column: zero variance -> null statistic, not a crash
    val const = Seq(7L, 7L, 7L).toDF("v")
    assert(Analytics.grubbs(const, col("v")).collect().head
      .isNullAt(2))
  }

  test("bartlett: equal variances give 0; hand ln terms; zero-var group dropped") {
    val eq = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val re = Analytics.bartlett(eq, col("g"), col("v")).collect().head
    assert(re.getAs[Long]("k") == 2L && re.getAs[Long]("n") == 6L)
    assert(re.getAs[Double]("chi2") == 0.0d)
    // g1 = {0,4} (s²=8), g2 = {0,2} (s²=2): terms ln8 -> 2.079442,
    // ln2 -> 0.693147 (6dp); s_p² = (8+2)/2 = 5; C = 1 + (2−0.5)/3
    // -> chi2 = (2·ln5 − 2.772589)/1.5
    val un = Seq(("a", 0L), ("a", 4L), ("b", 0L), ("b", 2L)).toDF("g", "v")
    val ru = Analytics.bartlett(un, col("g"), col("v")).collect().head
    val expected = BigDecimal(
      (2.0d * math.log(5.0d) - 2.772589d) / 1.5d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ru.getAs[Double]("chi2") == expected)
    // a zero-variance group is excluded and counted
    val wz = un.union(Seq(("c", 9L), ("c", 9L)).toDF("g", "v"))
    val rz = Analytics.bartlett(wz, col("g"), col("v")).collect().head
    assert(rz.getAs[Long]("k") == 2L && rz.getAs[Long]("k_dropped") == 1L)
    assert(rz.getAs[Double]("chi2") == expected)
  }

  test("deltaRatio: hand covariance; degenerate arms report null") {
    // arm 0: users (x,y) = (2,1), (4,3): R = 6/4 = 1.5,
    // S_xx = S_yy = S_xy = 2, Var = (2 − 2·1.5·2 + 2.25·2)/(2·2²)
    // = 0.5/8 = 0.0625 -> se = 0.25
    val df = Seq(
      ("0", 1L, 2L, 1L), ("0", 2L, 4L, 3L),
      ("1", 3L, 5L, 0L), // arm 1: one user, zero denominator
      ("2", 4L, 7L, 2L)) // arm 2: one user -> no variance
      .toDF("arm", "u", "x", "y")
    val out = Analytics.deltaRatio(df, col("arm"), col("u"),
      col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a0 = out("0")
    assert(a0.getAs[Long]("n_users") == 2L)
    assert(a0.getAs[Long]("num_sum") == 6L && a0.getAs[Long]("den_sum") == 4L)
    assert(a0.getAs[Double]("ratio") == 1.5d)
    assert(a0.getAs[Long]("se_micros") == 250000L)
    assert(out("1").isNullAt(out("1").fieldIndex("ratio")))
    assert(out("1").isNullAt(out("1").fieldIndex("se_micros")))
    assert(out("2").getAs[Double]("ratio") == 3.5d)
    assert(out("2").isNullAt(out("2").fieldIndex("se_micros")))
    // multiple events per user collapse to per-user sums first
    val dup = Seq(("0", 1L, 1L, 1L), ("0", 1L, 1L, 0L), ("0", 2L, 4L, 3L))
      .toDF("arm", "u", "x", "y")
    val d0 = Analytics.deltaRatio(dup, col("arm"), col("u"),
      col("x"), col("y")).collect().head
    assert(d0.getAs[Long]("num_sum") == 6L && d0.getAs[Long]("den_sum") == 4L)
    assert(d0.getAs[Long]("se_micros") == 250000L)
  }

  test("jonckheereTerpstra: perfect monotone separation; ties count half") {
    // groups 1:{1,2}, 2:{3,4}: every cross pair concordant -> jt2 = 8
    // (JT = 4 = n1·n2 max), e2 = (16−8)/2 = 4, D = 176−56 = 120,
    // z² = 16·18/120 = 2.4
    val df = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L)).toDF("g", "v")
    val r = Analytics.jonckheereTerpstra(df, col("g"), col("v"))
      .collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("jt2") == 8L && r.getAs[Long]("e2") == 4L)
    assert(r.getAs[Long]("z2_ppm") == 2400000L)
    assert(!r.getAs[Boolean]("trend_95"))
    // a cross-group tie contributes exactly HALF a concordance:
    // 1:{1}, 2:{1} -> jt2 = 1 = e2 -> z² = 0
    val tied = Seq((1L, 1L), (2L, 1L)).toDF("g", "v")
    val rt = Analytics.jonckheereTerpstra(tied, col("g"), col("v"))
      .collect().head
    assert(rt.getAs[Long]("jt2") == 1L && rt.getAs[Long]("e2") == 1L)
    assert(rt.getAs[Long]("z2_ppm") == 0L)
    // anti-monotone: jt2 = 0, same |gap| as perfect -> same z²
    val anti = Seq((2L, 1L), (2L, 2L), (1L, 3L), (1L, 4L)).toDF("g", "v")
    assert(Analytics.jonckheereTerpstra(anti, col("g"), col("v"))
      .collect().head.getAs[Long]("z2_ppm") == 2400000L)
  }

  test("pageTrend: perfect per-block trend; ordinal gaps don't matter") {
    // 2 blocks, k = 3, values follow the ordinal in every block:
    // mr2 per block = 2,4,6 -> R2 = (4,8,12), L2 = 4+16+36 = 56,
    // e2 = 2·3·16/2 = 48, D = 2·9·4·8 = 576 -> z² = 64·36/576 = 4
    val df = Seq(("b1", 1L, 10L), ("b1", 2L, 20L), ("b1", 3L, 30L),
      ("b2", 1L, 5L), ("b2", 2L, 6L), ("b2", 3L, 7L))
      .toDF("b", "t", "v")
    val r = Analytics.pageTrend(df, col("b"), col("t"), col("v"))
      .collect().head
    assert(r.getAs[Long]("n_blocks") == 2L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("l2") == 56L && r.getAs[Long]("e2") == 48L)
    assert(r.getAs[Long]("z2_ppm") == 4000000L)
    assert(r.getAs[Boolean]("trend_95") && !r.getAs[Boolean]("trend_99"))
    // gappy ordinals (10,20,30) weight identically to (1,2,3)
    val gappy = Seq(("b1", 10L, 10L), ("b1", 20L, 20L), ("b1", 30L, 30L),
      ("b2", 10L, 5L), ("b2", 20L, 6L), ("b2", 30L, 7L))
      .toDF("b", "t", "v")
    assert(Analytics.pageTrend(gappy, col("b"), col("t"), col("v"))
      .collect().head.getAs[Long]("z2_ppm") == 4000000L)
    // an incomplete block is dropped and counted, never silent
    val withPartial = df.union(Seq(("b3", 1L, 9L)).toDF("b", "t", "v"))
    val rp = Analytics.pageTrend(withPartial, col("b"), col("t"), col("v"))
      .collect().head
    assert(rp.getAs[Long]("n_blocks") == 2L && rp.getAs[Long]("n_dropped") == 1L)
  }

  test("andersonDarling: hand tail-weighted terms; identical samples give 0") {
    // a = {1,2}, b = {2,3}: at v=1 gap² = (4·1−2·1)² = 4, w-den
    // = 1·3·4 = 12 -> 333333; at v=2 c=2, gap² = (4·2−2·3)² = 4,
    // num 8e6 / den 3·1·4 -> 666666; v=3 has B=N (skipped).
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = Analytics.andersonDarling(df, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 999999L)
    // identical distributions: every gap 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    assert(Analytics.andersonDarling(same, col("g"), col("v"), "a", "b")
      .collect().head.getLong(2) == 0L)
    // disjoint supports: terms 333333 + 1000000 + 333333 — note the
    // MIDDLE value (B = N/2, both tails balanced) carries the max
    // CvM-style weight but AD's 1/(B(N−B)) boosts the edges relative
    // to CvM's uniform c weighting
    val dis = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    assert(Analytics.andersonDarling(dis, col("g"), col("v"), "a", "b")
      .collect().head.getLong(2) == 1666666L)
  }

  test("moodMedian: pooled-median split chi-square; degenerate ties give 0") {
    // a = {1,2,3}, b = {4,5,6}: pooled lower median 3, complete
    // separation -> each cell (O·N−R·C)² = 81, den 54 -> 4 × 1.5e6
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = Analytics.moodMedian(df, col("g"), col("v")).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("median") == 3L)
    assert(r.getAs[Long]("chi2_ppm") == 6000000L)
    // all-tied input: everything <= median, the > column is empty ->
    // zero-marginal cells contribute nothing, statistic 0
    val tied = Seq(("a", 7L), ("a", 7L), ("b", 7L)).toDF("g", "v")
    val rt = Analytics.moodMedian(tied, col("g"), col("v")).collect().head
    assert(rt.getAs[Long]("median") == 7L && rt.getAs[Long]("chi2_ppm") == 0L)
    // identical group distributions: O == E exactly in every cell
    val bal = Seq(("a", 1L), ("a", 9L), ("b", 1L), ("b", 9L)).toDF("g", "v")
    assert(Analytics.moodMedian(bal, col("g"), col("v"))
      .collect().head.getAs[Long]("chi2_ppm") == 0L)
  }

  test("holtWinters: hand fold with a learned weekly bump") {
    // period 2 for hand math: x = 10, 20, 10, 20 at pos 0,1,0,1
    // seed: l=10 b=0 s=[0,0]
    // t2 (x=20,p=1): l' = .5*(20-0)+.5*(10+0)=15; b=.25*5+0=1.25; s1=.5*(20-15)=2.5
    // t3 (x=10,p=0): l' = .5*(10-0)+.5*(15+1.25)=13.125;
    //   b = .25*(13.125-15)+.75*1.25 = 0.46875; s0 = .5*(10-13.125) = -1.5625
    val df = Seq((1L, 0L, 10.0, 0), (1L, 1L, 20.0, 1), (1L, 2L, 10.0, 0),
      (1L, 3L, 20.0, 1)).toDF("k", "t", "x", "p")
    val out = Analytics.holtWinters(df, col("k"), Seq(col("t")), col("t"),
        col("x"), col("p"), period = 2, alpha = 0.5, beta = 0.25, gamma = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0L) == ((10.0, 0.0, 0.0)))
    assert(out(1L) == ((15.0, 1.25, 2.5)))
    assert(out(2L) == ((13.125, 0.46875, -1.5625)))
  }

  test("mannWhitney: clean separation gives U = n1*n2, biserial = 1") {
    // positives {10, 11} all above negatives {1, 2, 3}: U1 = 6, u_x2 = 12
    val df = Seq((1L, 10L), (1L, 11L), (0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("y", "s")
    val r = Analytics.mannWhitney(df, col("y"), col("s")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 12L && r.getDouble(3) == 1.0)
    // perfectly interleaved equal values: U = n1*n2/2, biserial = 0
    val tie = Seq((1L, 5L), (0L, 5L), (1L, 5L), (0L, 5L)).toDF("y", "s")
    val r2 = Analytics.mannWhitney(tie, col("y"), col("s")).collect().head
    assert(r2.getLong(2) == 4L && r2.getDouble(3) == 0.0) // 2*U = 2*(2*2/2)
  }

  test("lagAutocorrExact: perfect alternation reads -1 at lag 1, +1 at lag 2") {
    val df = (0L until 12L).map(i => ("a", i, if (i % 2 == 0) 100L else 900L))
      .toDF("g", "t", "c")
    def r(k: Int) = Analytics.lagAutocorrExact(df, col("g"), Seq(col("t")),
      col("c"), k = k).collect().head.getDouble(2)
    assert(r(1) == -1.0 && r(2) == 1.0)
    // constant series: zero variance -> null
    val const = (0L until 6L).map(i => ("b", i, 5L)).toDF("g", "t", "c")
    assert(Analytics.lagAutocorrExact(const, col("g"), Seq(col("t")), col("c"), 1)
      .collect().head.isNullAt(2))
  }

  test("stickiness: daily-actives share of period actives, exact ppm") {
    // period 0 (ticks 0..2): users {1,2} — u1 on all 3 ticks, u2 on 1
    // sum_tick_actives = 2+1+1 = 4, n_ticks 3, period actives 2
    // stickiness = 4e6 div 6 = 666666
    val df = Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (1L, 0L))
      .toDF("u", "t")
    val r = Analytics.stickiness(df, col("u"), col("t"), ticksPerPeriod = 3L)
      .collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 2L && r.getLong(4) == 666666L)
  }

  test("conditionalEntropy: deterministic successor -> 0; fair coin -> ln 2") {
    val det = Seq(("a", "b"), ("a", "b"), ("c", "d")).toDF("x", "y")
    val r1 = Analytics.conditionalEntropy(det, col("x"), col("y")).collect().head
    assert(r1.getLong(0) == 3L && r1.getDouble(1) == 0.0 && r1.getDouble(2) == 1.0)
    val coin = Seq(("a", "h"), ("a", "t"), ("a", "h"), ("a", "t")).toDF("x", "y")
    val r2 = Analytics.conditionalEntropy(coin, col("x"), col("y")).collect().head
    assert(math.abs(r2.getDouble(1) - math.log(2.0)) < 1e-5)
    assert(math.abs(r2.getDouble(2) - 2.0) < 1e-3)
  }

  test("minDetectableEffect: constant metric has zero MDE; sigma scales it") {
    val df = (1L to 100L).map(i => ("a", 500L)).toDF("g", "c")
    val r = Analytics.minDetectableEffect(df, col("g"), col("c")).collect().head
    assert(r.getLong(1) == 100L && r.getDouble(2) == 500.0)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0)
    // known sigma: alternating 0/1000 -> sd ~502.5, mde = 2.801585*sd*sqrt(2/50)
    val alt = (1L to 100L).map(i => ("b", (i % 2) * 1000L)).toDF("g", "c")
    val r2 = Analytics.minDetectableEffect(alt, col("g"), col("c")).collect().head
    val sd = r2.getDouble(3)
    assert(math.abs(r2.getDouble(4) - 2.801585 * sd * math.sqrt(2.0 / 50.0)) < 1e-3)
  }

  test("quantileNormalize: group ranks land on the global distribution") {
    // global values {10 x2, 20, 30}: global ppm 10->500000, 20->750000, 30->1000000
    // group a = {10, 20}: ranks 500000, 1000000 -> normalized 10, 30
    // group b = {10, 30}: ranks 500000, 1000000 -> normalized 10, 30
    val df = Seq(("a", 10L), ("a", 20L), ("b", 10L), ("b", 30L)).toDF("g", "v")
    val out = Analytics.quantileNormalize(df, col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("a", 10L)) == ((500000L, 10L)))
    assert(out(("a", 20L)) == ((1000000L, 30L)))
    assert(out(("b", 10L)) == ((500000L, 10L)))
    assert(out(("b", 30L)) == ((1000000L, 30L)))
  }

  test("linearAttribution: equal split with floor remainder, window enforced") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // conv c1 has 3 in-window clicks -> 333333 each, remainder 1;
    // conv c2 has none (click after purchase); conv c3 out-of-window
    val df = Seq(
      (1L, 10L, ts(100), "purchase"), (1L, 11L, ts(90), "click"),
      (1L, 12L, ts(80), "click"), (1L, 13L, ts(70), "click"),
      (2L, 20L, ts(100), "purchase"), (2L, 21L, ts(101), "click"),
      (3L, 30L, ts(1000), "purchase"), (3L, 31L, ts(1L), "click")
    ).toDF("u", "id", "ts", "et")
    val r = Analytics.linearAttribution(df, col("u"), col("id"), col("ts"),
        col("et") === "purchase", col("et") === "click",
        windowUs = 500L * 1000000L)
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 999999L && r.getLong(4) == 1L)
  }

  test("groupedWinsorizedMean: clamped at the group's own exact fences") {
    // group a: 1..10 -> p05 rank ceil(0.5)=1 -> lo=1; p95 rank ceil(9.5)=10 -> hi=10
    // (no clamping on uniform small n); spike group b clamps hard
    val b = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 1000000L).map(("b", _))
    val df = b.toDF("g", "v")
    val r = Analytics.groupedWinsorizedMean(df, col("g"), col("v"), 0.05, 0.95)
      .collect().head
    // lo: ceil(0.5)=1 -> 1; hi: ceil(9.5)=10 -> the spike ITSELF is the
    // p95 value here (rank 10) so hi = 1000000 -> mean unchanged
    assert(r.getLong(1) == 10L && r.getLong(2) == 1L)
    // with pHi = 0.9 -> rank 9 -> hi = 9, spike clamps to 9
    val r2 = Analytics.groupedWinsorizedMean(df, col("g"), col("v"), 0.05, 0.9)
      .collect().head
    assert(r2.getLong(3) == 9L)
    assert(r2.getLong(4) == 5L) // clamped sum 45+9 = 54, 54 div 10 = 5
  }

  test("robustStats: median/MAD shrug off the outlier that wrecks mean/sigma") {
    // group a: {10, 12, 14, 16, 1000000} -> median 14, deviations
    // {4,2,0,2,999986} -> MAD 2
    val df = Seq(10L, 12L, 14L, 16L, 1000000L).map(("a", _)).toDF("g", "v")
    val r = Analytics.robustStats(df, col("g"), col("v")).collect().head
    assert(r.getLong(1) == 5L && r.getLong(2) == 14L && r.getLong(3) == 2L)
  }

  test("srmCheck: balanced split is quiet, broken split trips the fences") {
    val ok = (1L to 100L).map(i => i % 2).toDF("arm")
    val r1 = Analytics.srmCheck(ok, col("arm")).collect().head
    assert(r1.getLong(0) == 50L && r1.getLong(2) == 0L && !r1.getBoolean(3))
    // 80/20: chi2 = 36 -> 36e6 ppm, way past both fences
    val bad = (Seq.fill(80)(0L) ++ Seq.fill(20)(1L)).toDF("arm")
    val r2 = Analytics.srmCheck(bad, col("arm")).collect().head
    assert(r2.getLong(2) == 36000000L && r2.getBoolean(3) && r2.getBoolean(4))
  }

  test("churnMatrix: retained vs vanished per period, last period excluded") {
    // periods: u1 in {0,1}, u2 in {0}, u3 in {1}
    val df = Seq((1L, 0L), (1L, 1L), (2L, 0L), (3L, 1L)).toDF("u", "p")
    val out = Analytics.churnMatrix(df, col("u"), col("p"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // period 0: active {1,2}, retained {1} -> churn 1, retention 500000
    assert(out == Map(0L -> ((2L, 1L, 1L, 500000L)))) // period 1 (last) excluded
  }

  test("weekdayDeviation: scaled integer deviations, incomplete edges dropped") {
    // one group, days 0..8, x = 7 everywhere except day 4 spikes to 70:
    // complete windows center on days 3..5. dev = 7*x - sum7.
    val df = (0L until 9L).map(d => ("a", d, if (d == 4) 70L else 7L))
      .toDF("g", "d", "x")
    val out = Analytics.weekdayDeviation(df, col("g"), col("d"), col("x"), 7)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // windows for centers 3,4,5 all contain the spike: sum7 = 6*7+70 = 112
    // day 3: dev = 49-112 = -63 (pos 3); day 4: 490-112 = 378 (pos 4);
    // day 5: dev = -63 (pos 5). Edge days 0..2, 6..8 dropped.
    assert(out == Map(3L -> ((1L, -63L, -63L)), 4L -> ((1L, 378L, 378L)),
      5L -> ((1L, -63L, -63L))))
  }

  test("theilSen: median pairwise slope shrugs off one outlier day") {
    // days 0..4 perfectly linear x = 100*d, except day 2 spikes wildly.
    // Most pairwise slopes remain 100 cents/day -> 100000000 ppm median.
    val df = Seq(("a", 0L, 0L), ("a", 1L, 100L), ("a", 2L, 99999L),
      ("a", 3L, 300L), ("a", 4L, 400L)).toDF("g", "d", "x")
    val r = Analytics.theilSen(df, col("g"), col("d"), col("x")).collect().head
    assert(r.getLong(1) == 10L) // C(5,2) pairs
    assert(r.getLong(2) == 100L * 1000000L)
  }

  test("sequenceNll: deterministic path reads 0; rare transition is surprising") {
    // corpus: users 1,2 both walk a->b; user 3 walks a->c (rare).
    // P(b|a) = 2/3, P(c|a) = 1/3.
    val df = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "a"), (2L, 2L, "b"),
      (3L, 1L, "a"), (3L, 2L, "c")).toDF("u", "t", "et")
    val out = Analytics.sequenceNll(df, col("u"), Seq(col("t")), col("et"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 1L && math.abs(out(1L)._2 - math.log(3.0 / 2.0)) < 1e-5)
    assert(math.abs(out(3L)._2 - math.log(3.0)) < 1e-5) // ln(1/P) = ln 3
    // a fully deterministic corpus (single path) reads exactly 0
    val det = Seq((1L, 1L, "x"), (1L, 2L, "y"), (2L, 1L, "x"), (2L, 2L, "y"))
      .toDF("u", "t", "et")
    assert(Analytics.sequenceNll(det, col("u"), Seq(col("t")), col("et"))
      .collect().forall(_.getDouble(2) == 0.0))
  }

  test("logRank: hand-computed floors; arm flip leaves chi2 unchanged") {
    // A: events at 1 and 3; B: event at 2, censor at 3
    // t=1: e=1·2e6 div 4=500000, v=1·2·2·3·1e6 div 48=250000
    // t=2: e=333333, v=222222 ; t=3: e=500000, v=250000
    val df = Seq((1L, 1L, true), (3L, 1L, true), (2L, 1L, false),
      (3L, 0L, false)).toDF("t", "e", "a")
    val r = Analytics.logRank(df, col("t"), col("e"), col("a"))
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("o_a") == 2L)
    assert(r.getAs[Long]("e_a_ppm") == 1333333L)
    assert(r.getAs[Long]("v_ppm") == 722222L)
    val chiExp = ((BigInt(2000000) - 1333333).pow(2) / 722222).toLong
    assert(r.getAs[Long]("chi2_ppm") == chiExp)
    // flipping the arms mirrors O−E and keeps V: the chi-square agrees
    // up to the per-term ppm floors (E_A + E_B floors to Σd·10⁶ − #terms
    // at worst, so the mirrored statistic can drift a few ppm)
    val f = Analytics.logRank(df, col("t"), col("e"), !col("a"))
      .collect().head
    assert(f.getAs[Long]("v_ppm") == 722222L)
    assert(math.abs(f.getAs[Long]("chi2_ppm") - chiExp) <= 5L)
    // identical arms: O == E exactly -> chi2 == 0
    val same = Seq((1L, 1L, true), (1L, 1L, false), (2L, 1L, true),
      (2L, 1L, false)).toDF("t", "e", "a")
    val s = Analytics.logRank(same, col("t"), col("e"), col("a"))
      .collect().head
    assert(s.getAs[Long]("chi2_ppm") == 0L)
  }

  test("nelsonAalen: per-term floor increments cumulate exactly") {
    // durations 1(event), 2(event), 3(censor): H = 1/3 then 1/3 + 1/2
    // -> 333333, 833333 (sum of per-term ppm floors), flat at the censor
    val df = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("t", "e")
    val out = Analytics.nelsonAalen(df, col("t"), col("e"))
      .orderBy("t").collect()
    assert(out.map(_.getAs[Long]("n_risk")).toSeq == Seq(3L, 2L, 1L))
    assert(out.map(_.getAs[Long]("hazard_ppm")).toSeq ==
      Seq(333333L, 833333L, 833333L))
    // all events at one duration: H jumps to d/n exactly
    val burst = Seq((5L, 1L), (5L, 1L), (5L, 1L), (9L, 0L)).toDF("t", "e")
    val b = Analytics.nelsonAalen(burst, col("t"), col("e"))
      .orderBy("t").collect()
    assert(b.head.getAs[Long]("hazard_ppm") == 750000L) // 3/4
    assert(b.last.getAs[Long]("hazard_ppm") == 750000L)
  }

  test("kaplanMeier: textbook curve with censoring; extinction reads exact 0") {
    // durations: 1(event), 2(censored), 3(event), 4(event)
    // S(1) = 3/4; S(2) = 3/4 (censor only); S(3) = 3/4 * 1/2 = 0.375;
    // t=4: last subject dies (d = n) -> survival exactly 0.0
    val df = Seq((1L, 1L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("t", "e")
    val out = Analytics.kaplanMeier(df, col("t"), col("e"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L)._1 == 4L && out(1L)._2 == 1L)
    assert(math.abs(out(1L)._4 - 0.75) < 1e-5)
    assert(out(2L)._3 == 1L && out(2L)._4 == out(1L)._4) // censor: no drop
    assert(out(3L)._1 == 2L && math.abs(out(3L)._4 - 0.375) < 1e-5)
    assert(out(4L)._1 == 1L && out(4L)._4 == 0.0)
  }

  test("groupedExactQuantiles: per-group ceil(p*n) ranks, duplicates weighted") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 9L),
      ("b", 5L)).toDF("g", "v")
    val out = Analytics.groupedExactQuantiles(df, col("g"), col("v"), Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // a: n=4, p50 rank ceil(2)=2 -> value 2; p100 rank 4 -> 9
    assert(out(("a", 0.5)) == ((2L, 4L)))
    assert(out(("a", 1.0)) == ((9L, 4L)))
    assert(out(("b", 0.5)) == ((5L, 1L)))
  }

  test("saxWords: symbols follow the z-score breakpoints; flat series reads b") {
    // 8 points, segments=4 -> 2 points per segment. Values chosen so
    // segment means step from well below to well above the mean.
    val df = (0L until 8L).map(i => ("a", i, Seq(0L, 0L, 40L, 40L, 60L, 60L, 100L, 100L)(i.toInt)))
      .toDF("k", "t", "v")
    val out = Analytics.saxWords(df, col("k"), Seq(col("t")), col("v"), segments = 4)
      .collect().head
    assert(out.getLong(1) == 8L)
    // mean 50, sigma ~34.6: seg means 0,40,60,100 -> z -1.44,-0.29,0.29,1.44
    assert(out.getString(2) == "abcd")
    // constant series: sigma = 0 -> every segment 'b'
    val flat = (0L until 4L).map(i => ("c", i, 5L)).toDF("k", "t", "v")
    assert(Analytics.saxWords(flat, col("k"), Seq(col("t")), col("v"), 2)
      .collect().head.getString(2) == "bb")
  }

  test("mcnemar: discordant cells only; exact ppm, continuity corrected") {
    // pairs: 2 flips 0->1, 1 flip 1->0, concordant rest:
    // chi2 = (2-1)^2/3 = 333333 ppm; cc = (|1|-1)^2/3 = 0
    val df = Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 1L, 0L),
      (4L, 1L, 1L), (5L, 0L, 0L)).toDF("u", "a", "b")
    val r = Analytics.mcnemar(df, col("u"), col("a") === 1L, col("b") === 1L)
      .head()
    assert(r.getAs[Long]("n_pairs") == 5L)
    assert(r.getAs[Long]("n01") == 2L && r.getAs[Long]("n10") == 1L)
    assert(r.getAs[Long]("chi2_ppm") == 333333L)
    assert(r.getAs[Long]("chi2_cc_ppm") == 0L)
    // all concordant -> stats null
    val conc = Seq((1L, 1L, 1L), (2L, 0L, 0L)).toDF("u", "a", "b")
    assert(Analytics.mcnemar(conc, col("u"), col("a") === 1L, col("b") === 1L)
      .head().isNullAt(3))
    // balanced discordant cells: the continuity correction clamps at
    // zero instead of overshooting past the uncorrected statistic
    val bal = Seq((1L, 0L, 1L), (2L, 1L, 0L)).toDF("u", "a", "b")
    val rb = Analytics.mcnemar(bal, col("u"), col("a") === 1L, col("b") === 1L)
      .head()
    assert(rb.getAs[Long]("chi2_ppm") == 0L)
    assert(rb.getAs[Long]("chi2_cc_ppm") == 0L)
  }

  test("cochranQ: textbook 3-condition Q; k=2 reduces to uncorrected McNemar") {
    // units (1,1,1),(1,0,0),(1,0,1),(0,0,1): C=(3,1,3), N=7, R²=(9,1,4,1)
    // Q = 2·(3·19−49)/(21−15) = 16/6 -> 2666666 ppm
    val rows = Seq(
      (1L, "a", 1L), (1L, "b", 1L), (1L, "c", 1L),
      (2L, "a", 1L), (3L, "a", 1L), (3L, "c", 1L), (4L, "c", 1L))
      .toDF("u", "cond", "hit")
    val conds = Seq("a", "b", "c").map(c =>
      c -> (col("cond") === c && col("hit") === 1L))
    val r = Analytics.cochranQ(rows, col("u"), conds).collect().head
    assert(r.getAs[Long]("n_units") == 4L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("n_success") == 7L)
    assert(r.getAs[Long]("q_ppm") == 2666666L)
    // k = 2 on the McNemar fixture: Q == McNemar's uncorrected chi2
    val mc = Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 1L, 0L),
      (4L, 1L, 1L), (5L, 0L, 0L)).toDF("u", "a", "b")
    val flat = mc.selectExpr("u", "'pre' AS cond", "a AS hit")
      .unionAll(mc.selectExpr("u", "'post' AS cond", "b AS hit"))
    val q2 = Analytics.cochranQ(flat, col("u"),
      Seq("pre" -> (col("cond") === "pre" && col("hit") === 1L),
        "post" -> (col("cond") === "post" && col("hit") === 1L)))
      .collect().head
    assert(q2.getAs[Long]("q_ppm") == 333333L) // == mcnemar chi2_ppm
    // all-concordant units: denominator 0 -> null
    val conc = Seq((1L, "x", 1L), (1L, "y", 1L), (2L, "x", 0L))
      .toDF("u", "cond", "hit")
    val rc = Analytics.cochranQ(conc, col("u"),
      Seq("x" -> (col("cond") === "x" && col("hit") === 1L),
        "y" -> (col("cond") === "y" && col("hit") === 1L)))
      .collect().head
    assert(rc.isNullAt(rc.fieldIndex("q_ppm")))
  }

  test("kendallW: perfect agreement 1, cancelling rankings 0, chi2 identity") {
    // two raters rank three items identically: W = 1, chi2 = m(k-1)
    val perfect = Seq(
      ("r1", "A", 1L), ("r1", "B", 2L), ("r1", "C", 3L),
      ("r2", "A", 1L), ("r2", "B", 2L), ("r2", "C", 3L)).toDF("b", "t", "v")
    val p = Analytics.kendallW(perfect, col("b"), col("t"), col("v"))
      .collect().head
    assert(p.getAs[Long]("n_blocks") == 2L && p.getAs[Long]("k") == 3L)
    assert(p.getAs[Long]("w_ppm") == 1000000L)
    assert(p.getAs[Long]("chi2_ppm") == 4000000L) // m(k-1) = 4
    // reversed rankings cancel: every rank sum equal -> W = 0
    val cancel = Seq(
      ("r1", "A", 1L), ("r1", "B", 2L), ("r1", "C", 3L),
      ("r2", "A", 3L), ("r2", "B", 2L), ("r2", "C", 1L)).toDF("b", "t", "v")
    val c = Analytics.kendallW(cancel, col("b"), col("t"), col("v"))
      .collect().head
    assert(c.getAs[Long]("w_ppm") == 0L && c.getAs[Long]("chi2_ppm") == 0L)
    // mixed 3x3 hand case: num 56, A'-C' = 24 ->
    // chi2 = 112e6 div 24 = 4666666, W = 56e6 div 72 = 777777
    val mixed = Seq(
      ("b1", "A", 1L), ("b1", "B", 2L), ("b1", "C", 3L),
      ("b2", "A", 1L), ("b2", "B", 2L), ("b2", "C", 3L),
      ("b3", "A", 2L), ("b3", "B", 1L), ("b3", "C", 3L)).toDF("b", "t", "v")
    val m = Analytics.kendallW(mixed, col("b"), col("t"), col("v"))
      .collect().head
    assert(m.getAs[Long]("chi2_ppm") == 4666666L)
    assert(m.getAs[Long]("w_ppm") == 777777L)
    // fully tied blocks: A' = C' -> null; incomplete block counted
    val tied = Seq(
      ("r1", "A", 5L), ("r1", "B", 5L),
      ("r2", "A", 7L), ("r2", "B", 7L),
      ("r3", "A", 1L)).toDF("b", "t", "v")
    val tR = Analytics.kendallW(tied, col("b"), col("t"), col("v"))
      .collect().head
    assert(tR.getAs[Long]("n_dropped") == 1L)
    assert(tR.isNullAt(tR.fieldIndex("w_ppm")))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("friedman: textbook chi2, tie-block invariance, incomplete blocks reported") {
    // 3 blocks, monotone A<B<C everywhere: chi2_F = 6 exactly
    val base = for (b <- 1 to 3; (t, v) <- Seq(("A", 1L), ("B", 2L), ("C", 3L)))
      yield (b.toLong, t, v + b) // +b shifts values, ranks unchanged
    val r = Analytics.friedman(base.toDF("b", "t", "v"),
      col("b"), col("t"), col("v")).collect().head
    assert(r.getAs[Long]("n_blocks") == 3L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("n_dropped") == 0L)
    assert(r.getAs[Long]("chi2_ppm") == 6000000L)
    // an all-tied extra block adds no signal: statistic unchanged
    val withTied = base ++ Seq((4L, "A", 5L), (4L, "B", 5L), (4L, "C", 5L))
    val rt = Analytics.friedman(withTied.toDF("b", "t", "v"),
      col("b"), col("t"), col("v")).collect().head
    assert(rt.getAs[Long]("n_blocks") == 4L)
    assert(rt.getAs[Long]("chi2_ppm") == 6000000L)
    // incomplete blocks drop and are counted, never silent
    val withPartial = base ++ Seq((9L, "A", 1L), (9L, "B", 2L))
    val rp = Analytics.friedman(withPartial.toDF("b", "t", "v"),
      col("b"), col("t"), col("v")).collect().head
    assert(rp.getAs[Long]("n_blocks") == 3L && rp.getAs[Long]("n_dropped") == 1L)
    // every block fully tied: A' = C' -> null
    val allTied = Seq((1L, "A", 2L), (1L, "B", 2L), (2L, "A", 7L), (2L, "B", 7L))
    val ra = Analytics.friedman(allTied.toDF("b", "t", "v"),
      col("b"), col("t"), col("v")).collect().head
    assert(ra.isNullAt(ra.fieldIndex("chi2_ppm")))
  }

  test("diffInDiff: treated lift net of the control trend; empty cell nulls") {
    // control 10 -> 12 (trend +2), treated 20 -> 25 (+5): DID = 3
    val df = Seq((0L, 0L, 10L), (0L, 0L, 10L), (0L, 1L, 12L), (0L, 1L, 12L),
      (1L, 0L, 20L), (1L, 0L, 20L), (1L, 1L, 25L), (1L, 1L, 25L))
      .toDF("t", "p", "v")
    val r = Analytics.diffInDiff(df, col("t"), col("p"), col("v")).head()
    assert(r.getAs[Long]("n00") == 2L && r.getAs[Long]("n11") == 2L)
    assert(r.getAs[Double]("mean00") == 10.0 && r.getAs[Double]("mean11") == 25.0)
    assert(r.getAs[Double]("did") == 3.0)
    // a missing cell leaves the design undefined -> null DID
    val missing = df.where(!(col("t") === 1L && col("p") === 0L))
    val m = Analytics.diffInDiff(missing, col("t"), col("p"), col("v")).head()
    assert(m.getAs[Long]("n10") == 0L && m.isNullAt(8))
  }

  test("brierDecomposition: calibrated bin scores zero reliability; ece exact") {
    // bin 0.5 with rate 0.5 (calibrated) + bin 1.0 with rate 0 (worst):
    // N=6, obar=1/3; REL = (4*0 + 2*1)/6 = 1/3; ECE = (0 + 2*1)/6 = 1/3
    val df = Seq((500000L, 1L), (500000L, 0L), (500000L, 1L), (500000L, 0L),
      (1000000L, 0L), (1000000L, 0L)).toDF("p", "y")
    val r = Analytics.brierDecomposition(df, col("p"), col("y")).head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Double]("reliability") == 0.333333)
    assert(r.getAs[Double]("ece") == 0.333333)
    assert(r.getAs[Double]("uncertainty") == 0.222222) // (1/3)(2/3)
    // Murphy identity holds on the rounded surface within 2 ulp-ish
    assert(math.abs(r.getAs[Double]("brier") -
      (r.getAs[Double]("reliability") - r.getAs[Double]("resolution") +
        r.getAs[Double]("uncertainty"))) < 1e-5)
  }

  test("anovaF: textbook two-group F and eta-squared, degenerate cases null") {
    // g1 = {1,2,3}, g2 = {4,5,6}: SSB = 13.5, SSW = 4, F = 13.5,
    // eta^2 = 13.5/17.5 = 0.771429
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L), ("b", 6L))
      .toDF("g", "v")
    val r = Analytics.anovaF(df, col("g"), col("v")).head()
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("f") == 13.5)
    assert(r.getAs[Double]("eta_sq") == 0.771429)
    // one group only -> F null
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    assert(Analytics.anovaF(one, col("g"), col("v")).head().isNullAt(2))
    // zero within-variance (constant per group) -> F null, eta = 1
    val const = Seq(("a", 1L), ("a", 1L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val c = Analytics.anovaF(const, col("g"), col("v")).head()
    assert(c.isNullAt(2) && c.getAs[Double]("eta_sq") == 1.0)
  }

  test("kruskalWallis: textbook no-tie H, tie correction engages, all-tied null") {
    // g1 = {1,2,3}, g2 = {4,5,6}: ranks 1..6, H = 12/42*(12+75) - 21
    // = 3.857143; no ties -> corrected equals raw
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L), ("b", 6L))
      .toDF("g", "v")
    val r = Analytics.kruskalWallis(df, col("g"), col("v")).head()
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("h") == 3.857143)
    assert(r.getAs[Double]("h_corrected") == 3.857143)
    // every value tied -> C = 0 -> corrected null
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    assert(Analytics.kruskalWallis(tied, col("g"), col("v")).head().isNullAt(3))
  }

  test("bhFdr: classic step-up cutoff — reject exactly the first three ranks") {
    // p = .01,.02,.03,.5,.9 at q = .05, N = 5: thresholds r*.01;
    // ranks 1..3 reject, the step-up never reaches 4 and 5
    val df = Seq((1L, 10000L), (2L, 20000L), (3L, 30000L),
      (4L, 500000L), (5L, 900000L)).toDF("id", "p")
    val out = Analytics.bhFdr(df, col("id"), col("p"), qPpm = 50000L)
      .collect().map(r => r.getAs[Long]("rank") -> r.getAs[Boolean]("rejected"))
      .toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
    // nothing passes -> empty reject set, all rows still emitted
    val none = Seq((1L, 900000L), (2L, 950000L)).toDF("id", "p")
    val n = Analytics.bhFdr(none, col("id"), col("p"), qPpm = 50000L).collect()
    assert(n.length == 2 && n.forall(!_.getAs[Boolean]("rejected")))
  }

  test("averagePrecision: textbook ranked list, perfect and interleaved") {
    // scores 4,3,2,1 with labels 1,0,1,0: precision@1 = 1, @3 = 2/3
    // AP = (1 + 2/3) / 2 = 0.833333 -> 833333 ppm (floor-div fixed point)
    val df = Seq((4L, 1L, 1L), (3L, 0L, 2L), (2L, 1L, 3L), (1L, 0L, 4L))
      .toDF("s", "y", "id")
    val r = Analytics.averagePrecision(df, col("y"), col("s"), Seq(col("id")))
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 833333L)
    // all positives ranked first -> AP exactly 1.0 = 1e6 ppm
    val perfect = Seq((9L, 1L, 1L), (8L, 1L, 2L), (1L, 0L, 3L)).toDF("s", "y", "id")
    assert(Analytics.averagePrecision(perfect, col("y"), col("s"), Seq(col("id")))
      .collect().head.getLong(2) == 1000000L)
  }

  test("ljungBox: matches a naive double reimplementation; degenerate keys null") {
    // xs small enough that the naive double path is exact, so the
    // decimal engine must agree to the ppm
    def expected(xs: Seq[Long], lags: Seq[Int]): (Seq[Long], Long) = {
      val n = xs.length
      val s = xs.sum.toDouble
      val ys = xs.map(x => n.toDouble * x - s)
      val den = ys.map(y => y * y).sum
      val rhos = lags.map(k => (k until n).map(t => ys(t) * ys(t - k)).sum / den)
      val q = lags.zip(rhos).map { case (k, r) => r * r / (n - k) }
        .reduce(_ + _) * n * (n + 2.0)
      (rhos.map(r => math.round(r * 1e6)), math.round(q * 1e6))
    }
    val trend = Seq(100L, 220L, 290L, 410L, 480L, 640L, 690L, 830L, 870L, 1010L)
    val lags = Seq(1, 2, 3)
    val rows =
      trend.zipWithIndex.map { case (x, i) => ("t", i.toLong, x) } ++
        Seq(("short", 0L, 5L), ("short", 1L, 9L)) ++ // n <= max lag -> null
        (0 until 8).map(i => ("flat", i.toLong, 7L)) // zero variance -> null
    val df = rows.toDF("k", "i", "x")
    val out = Analytics.ljungBox(df, col("k"), Seq(col("i")), col("x"), lags)
      .collect().map(r => r.getString(0) -> r).toMap
    val (expRhos, expQ) = expected(trend, lags)
    val t = out("t")
    assert(t.getAs[Long]("n") == 10L)
    assert(lags.indices.forall(i =>
      t.getAs[Long](s"rho${lags(i)}_ppm") == expRhos(i)))
    assert(t.getAs[Long]("q_ppm") == expQ)
    assert(t.getAs[Long]("q_ppm") > 0L) // a trend is loudly non-white
    Seq("short", "flat").foreach { k =>
      assert(out(k).isNullAt(out(k).fieldIndex("q_ppm")))
      assert(out(k).isNullAt(out(k).fieldIndex("rho1_ppm")))
    }
  }

  test("durbinWatson: alternating ~4, trend ~0-ish, degenerate null") {
    def expected(xs: Seq[Long]): Long = {
      val n = xs.length
      val s = xs.sum.toDouble
      val den = xs.map(x => { val y = n * x - s; y * y }).sum
      val num = xs.sliding(2).map { case Seq(a, b) =>
        val d = n.toDouble * (b - a); d * d }.sum
      math.round(num / den * 1e6)
    }
    val alt = Seq(10L, -10L, 10L, -10L, 10L, -10L)
    val trend = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val rows = alt.zipWithIndex.map { case (x, i) => ("alt", i.toLong, x) } ++
      trend.zipWithIndex.map { case (x, i) => ("tr", i.toLong, x) } ++
      Seq(("one", 0L, 42L)) ++
      (0 until 4).map(i => ("flat", i.toLong, 3L))
    val out = Analytics.durbinWatson(rows.toDF("k", "i", "x"),
        col("k"), Seq(col("i")), col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("alt").getAs[Long]("dw_ppm") == expected(alt))
    assert(out("alt").getAs[Long]("dw_ppm") > 3000000L) // negative autocorr >> 2
    assert(out("tr").getAs[Long]("dw_ppm") == expected(trend))
    assert(out("tr").getAs[Long]("dw_ppm") < 1000000L)  // positive autocorr < 1
    Seq("one", "flat").foreach(k =>
      assert(out(k).isNullAt(out(k).fieldIndex("dw_ppm"))))
  }

  test("gTest: exact independence is 0; known 2x2 matches the ln formula") {
    // perfectly independent 2x2 (margins 30/30 x 20/40): every cell
    // term ln(O*N/(R*C)) = ln 1 = 0
    val indep = Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(20)(("b", "y"))
    val r0 = Analytics.gTest(indep.toDF("u", "v"), col("u"), col("v"))
      .collect().head
    assert(r0.getAs[Long]("n") == 60L && r0.getAs[Long]("dof") == 1L)
    assert(r0.getAs[Long]("g_ppm") == 0L)
    // skewed 2x2: per-cell integer-rounded ppm terms, summed
    val counts = Map(("a", "x") -> 30L, ("a", "y") -> 10L,
      ("b", "x") -> 5L, ("b", "y") -> 25L)
    val rows = counts.toSeq.flatMap { case ((u, v), c) =>
      Seq.fill(c.toInt)((u, v)) }
    val n = counts.values.sum.toDouble
    val rx = counts.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val cy = counts.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val exp = counts.map { case ((u, v), o) =>
      math.round(2.0 * o * math.log(o * n / (rx(u).toDouble * cy(v))) * 1e6)
    }.sum
    val r1 = Analytics.gTest(rows.toDF("u", "v"), col("u"), col("v"))
      .collect().head
    assert(r1.getAs[Long]("g_ppm") == exp && r1.getAs[Long]("g_ppm") > 0L)
  }

  test("bowker: directional flows summed per unordered pair; diagonal drops") {
    // units: A->B ×3, B->A ×1, A->C ×2, plus a B->B diagonal unit
    // terms: (3−1)²/4 = 1e6 ppm, (2−0)²/2 = 2e6 ppm; df = 2
    def unit(u: Long, first: String, last: String) =
      Seq((u, 1L, first), (u, 2L, last))
    val rows = unit(1, "A", "B") ++ unit(2, "A", "B") ++ unit(3, "A", "B") ++
      unit(4, "B", "A") ++ unit(5, "A", "C") ++ unit(6, "A", "C") ++
      unit(7, "B", "B")
    val df = rows.toDF("u", "t", "c")
    val r = Analytics.bowker(df, col("u"), col("c"), Seq(col("t")))
      .collect().head
    assert(r.getAs[Long]("n_units") == 7L)
    assert(r.getAs[Long]("df") == 2L)
    assert(r.getAs[Long]("chi2_ppm") == 3000000L)
    // perfectly balanced flows: chi2 = 0, df counts the active pair
    val bal = (unit(1, "A", "B") ++ unit(2, "B", "A")).toDF("u", "t", "c")
    val rb = Analytics.bowker(bal, col("u"), col("c"), Seq(col("t")))
      .collect().head
    assert(rb.getAs[Long]("df") == 1L && rb.getAs[Long]("chi2_ppm") == 0L)
  }

  test("interarrivalBurstiness: metronome -1; bursty positive") {
    def ev(u: Long, tp: String, ts: Seq[Long]) =
      ts.zipWithIndex.map { case (t, i) => (u, tp, t, u * 100 + i) }
    // perfectly periodic gaps (10s): sigma 0 -> B = -1
    val per = ev(1L, "tick", Seq(0L, 10L, 20L, 30L))
      .toDF("u", "tp", "t", "id")
      .select(col("u"), col("tp"), col("t").cast("timestamp").as("ts"),
        col("id"))
    val r = Analytics.interarrivalBurstiness(per, col("u"), col("tp"),
      col("ts"), col("id")).collect().head
    assert(r.getAs[Long]("n_gaps") == 3L && r.getAs[Double]("b") == -1.0d)
    // bursty: gaps 0,0,0,10 -> B = (sqrt(300)-10)/(sqrt(300)+10)
    val bur = ev(2L, "click", Seq(0L, 0L, 0L, 0L, 10L))
      .toDF("u", "tp", "t", "id")
      .select(col("u"), col("tp"), col("t").cast("timestamp").as("ts"),
        col("id"))
    val rb = Analytics.interarrivalBurstiness(bur, col("u"), col("tp"),
      col("ts"), col("id")).collect().head
    val bExp = BigDecimal((math.sqrt(300.0) - 10.0) / (math.sqrt(300.0) + 10.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rb.getAs[Double]("b") == bExp)
    // a single event has no gap; all-zero gaps give null
    val z = ev(3L, "z", Seq(5L, 5L)).toDF("u", "tp", "t", "id")
      .select(col("u"), col("tp"), col("t").cast("timestamp").as("ts"),
        col("id"))
    val rz = Analytics.interarrivalBurstiness(z, col("u"), col("tp"),
      col("ts"), col("id")).collect().head
    assert(rz.getAs[Long]("n_gaps") == 1L && rz.isNullAt(rz.fieldIndex("b")))
  }

  test("eventuallyFollows: detour-proof ordering support") {
    // u1: A@1, B@2; u2: B@1, A@2, B@3 — A..B holds for both users,
    // B..A only for u2
    val df = Seq((1L, "A", 1L, 10L), (1L, "B", 2L, 11L),
      (2L, "B", 1L, 20L), (2L, "A", 2L, 21L), (2L, "B", 3L, 22L))
      .toDF("u", "s", "t", "id")
      .select(col("u"), col("s"), col("t").cast("timestamp").as("ts"),
        col("id"))
    val out = Analytics.eventuallyFollows(df, col("u"), col("s"),
      col("ts"), col("id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("A", "B")).getAs[Long]("n_both") == 2L &&
      out(("A", "B")).getAs[Long]("n_follows") == 2L &&
      out(("A", "B")).getAs[Long]("support_ppm") == 1000000L)
    assert(out(("B", "A")).getAs[Long]("n_follows") == 1L &&
      out(("B", "A")).getAs[Long]("support_ppm") == 500000L)
    // timestamp tie broken by id: A and B at the same instant, A id
    // smaller -> A precedes B, not the reverse
    val tie = Seq((1L, "A", 5L, 1L), (1L, "B", 5L, 2L))
      .toDF("u", "s", "t", "id")
      .select(col("u"), col("s"), col("t").cast("timestamp").as("ts"),
        col("id"))
    val ot = Analytics.eventuallyFollows(tie, col("u"), col("s"),
      col("ts"), col("id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_follows")).toMap
    assert(ot(("A", "B")) == 1L && ot(("B", "A")) == 0L)
  }

  test("markovEntropy: deterministic chain 0; uniform branch ln 2") {
    // A,B,A,B per user: every transition is forced -> H = 0
    val det = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"))
      .toDF("u", "t", "s")
    val r = Analytics.markovEntropy(det, col("u"), Seq(col("t")), col("s"))
      .collect().head
    assert(r.getAs[Long]("n_transitions") == 3L)
    assert(r.getAs[Long]("h_micros") == 0L)
    // from A: half to B, half to C -> H = ln 2 nats = 693147 micros
    val unif = Seq((1L, 1L, "A"), (1L, 2L, "B"), (2L, 1L, "A"), (2L, 2L, "C"),
      (3L, 1L, "A"), (3L, 2L, "B"), (4L, 1L, "A"), (4L, 2L, "C"))
      .toDF("u", "t", "s")
    val ru = Analytics.markovEntropy(unif, col("u"), Seq(col("t")), col("s"))
      .collect().head
    assert(ru.getAs[Long]("n_transitions") == 4L &&
      ru.getAs[Long]("k_states") == 1L)
    assert(ru.getAs[Long]("h_micros") == 693147L)
  }

  test("circularStats: spike concentrates, uniform clock cancels exactly") {
    // five events at hour 0: rbar = 1, z = n = 5
    val spike = (1 to 5).map(_ => ("g", 0L)).toDF("g", "h")
    val r = Analytics.circularStats(spike, col("g"), col("h"))
      .collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("rbar") == 1.0d && r.getAs[Double]("z") == 5.0d)
    assert(r.getAs[Boolean]("sig_95"))
    // one event per hour: the 6dp-rounded clock cancels to exact zero
    val unif = (0 until 24).map(h => ("g", h.toLong)).toDF("g", "h")
    val ru = Analytics.circularStats(unif, col("g"), col("h"))
      .collect().head
    assert(ru.getAs[Double]("rbar") == 0.0d && ru.getAs[Double]("z") == 0.0d)
    assert(!ru.getAs[Boolean]("sig_95"))
    // antipodal spikes cancel too
    val anti = Seq(("g", 0L), ("g", 12L)).toDF("g", "h")
    val ra = Analytics.circularStats(anti, col("g"), col("h"))
      .collect().head
    assert(ra.getAs[Double]("z") == 0.0d)
  }

  test("demingFit: exact symmetric lines; no co-movement refuses") {
    // y = 2x + 3 exactly: S_xx = 6, S_yy = 24, S_xy = 12 -> slope 2
    val df = Seq((0L, 3L), (1L, 5L), (2L, 7L)).toDF("x", "y")
    val r = Analytics.demingFit(df, col("x"), col("y")).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("slope") == 2.0d)
    assert(r.getAs[Double]("intercept") == 3.0d)
    // symmetry: swapping axes inverts the slope exactly (OLS wouldn't)
    val rs = Analytics.demingFit(df, col("y"), col("x")).collect().head
    assert(rs.getAs[Double]("slope") == 0.5d)
    // zero covariance: vertical/undefined orthogonal line -> null
    val z = Seq((0L, 0L), (0L, 2L), (2L, 1L), (-2L, 1L)).toDF("x", "y")
    val rz = Analytics.demingFit(z, col("x"), col("y")).collect().head
    assert(rz.isNullAt(rz.fieldIndex("slope")))
  }

  test("blandAltman: bias/LoA hand values; heavy tail lands outside") {
    // alternating ±1: zero bias, sd = sqrt(4/3), nothing outside
    val alt = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 1L)).toDF("x", "y")
    val r = Analytics.blandAltman(alt, col("x"), col("y"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Double]("bias") == 0.0d)
    val sdExp = BigDecimal(math.sqrt(16.0 / 12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("sd") == sdExp)
    assert(r.getAs[Long]("n_outside") == 0L)
    // twenty zero-diff pairs plus one +100: the spike exits the LoA
    val rows = Seq.fill(20)((5L, 5L)) :+ ((105L, 5L))
    val rt = Analytics.blandAltman(rows.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    val bias = BigDecimal(100.0 / 21)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rt.getAs[Double]("bias") == bias)
    assert(rt.getAs[Long]("n_outside") == 1L)
    // single pair: sd undefined -> LoA null, nothing counted outside
    val one = Seq((3L, 1L)).toDF("x", "y")
    val ro = Analytics.blandAltman(one, col("x"), col("y"))
      .collect().head
    assert(ro.isNullAt(ro.fieldIndex("sd")) &&
      ro.getAs[Long]("n_outside") == 0L)
  }

  test("kuiperUniformHours: point mass 1; uniform hits the 1/24 floor") {
    // all mass at hour 0: V = 1 (the whole CDF sits above the line)
    val spike = (1 to 4).map(_ => ("g", 0L)).toDF("g", "h")
    val r = Analytics.kuiperUniformHours(spike, col("g"), col("h"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("v_num") == 96L && r.getAs[Long]("v_denom") == 96L)
    assert(r.getAs[Double]("v") == 1.0d)
    // one event per hour: only the discretization floor 24/576 remains
    val unif = (0 until 24).map(h => ("g", h.toLong)).toDF("g", "h")
    val ru = Analytics.kuiperUniformHours(unif, col("g"), col("h"))
      .collect().head
    assert(ru.getAs[Long]("v_num") == 24L && ru.getAs[Long]("v_denom") == 576L)
    // a 12-hours-apart bimodal clock that Rayleigh scores ~0 still
    // lights Kuiper up: hours {0, 12} x 2 each
    val bim = Seq(("g", 0L), ("g", 0L), ("g", 12L), ("g", 12L)).toDF("g", "h")
    val rb = Analytics.kuiperUniformHours(bim, col("g"), col("h"))
      .collect().head
    // D+ = max(24*cum - 4h): h=0 -> 48; D- = max(4(h+1) - 24cum):
    // h=11 -> 48 - 48 = 0 ... exact: cum(0..11) = 2 -> h=11: 48-48=0,
    // all later cum = 4 -> negative; so V = 48/96 = 0.5
    assert(rb.getAs[Double]("v") == 0.5d)
    val ray = Analytics.circularStats(bim, col("g"), col("h"))
      .collect().head
    assert(ray.getAs[Double]("rbar") == 0.0d) // Rayleigh is blind here
  }

  test("kuiperTest: sums both directed gaps where KS sees only one") {
    // a = {1,4} straddles b = {2,3}: D+ = D− = 2 -> V = 1 while the
    // one-sided KS max is only 0.5 — the tail sensitivity in action
    val str = Seq(("a", 1L), ("a", 4L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = Analytics.kuiperTest(str, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("v_num") == 4L && r.getAs[Long]("v_denom") == 4L)
    assert(r.getAs[Double]("v") == 1.0d)
    val ks = Analytics.ksTest(str, col("g"), col("v"), "a", "b")
      .collect().head
    assert(ks.getAs[Double]("ks") == 0.5d)
    // fully separated: V = 1 too (D− clamps at 0)
    val sep = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val rs = Analytics.kuiperTest(sep, col("g"), col("v"), "a", "b")
      .collect().head
    assert(rs.getAs[Double]("v") == 1.0d)
    // identical samples: V = 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    val ri = Analytics.kuiperTest(same, col("g"), col("v"), "a", "b")
      .collect().head
    assert(ri.getAs[Long]("v_num") == 0L && ri.getAs[Double]("v") == 0.0d)
  }

  test("bhattacharyya: identical 1, disjoint 0, hand partial overlap") {
    def rows(arm: String, bins: Seq[Long]) = bins.map(b => (arm, b))
    val same = (rows("a", Seq(1L, 1L, 2L, 2L)) ++ rows("b", Seq(1L, 1L, 2L, 2L)))
      .toDF("arm", "bin")
    val r = Analytics.bhattacharyya(same, col("arm"), col("bin"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Double]("bc") == 1.0d)
    assert(r.getAs[Double]("hellinger") == 0.0d)
    val disj = (rows("a", Seq(1L, 1L)) ++ rows("b", Seq(2L, 2L)))
      .toDF("arm", "bin")
    val rd = Analytics.bhattacharyya(disj, col("arm"), col("bin"), "a", "b")
      .collect().head
    assert(rd.getAs[Double]("bc") == 0.0d)
    assert(rd.getAs[Double]("hellinger") == 1.0d)
    // a = (2,2), b = (4,0): BC = round(√8,6)/4
    val part = (rows("a", Seq(1L, 1L, 2L, 2L)) ++ rows("b", Seq(1L, 1L, 1L, 1L)))
      .toDF("arm", "bin")
    val rp = Analytics.bhattacharyya(part, col("arm"), col("bin"), "a", "b")
      .collect().head
    val exp = BigDecimal(
      BigDecimal(math.sqrt(8.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble / 4.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rp.getAs[Double]("bc") == exp)
  }

  test("chatterjeeXi: (n-2)/(n+1) at perfect monotone, reversal-symmetric") {
    // y = x, n = 4: xi = (4−2)/(4+1) = 0.4
    val up = (1L to 4L).map(i => (i, i, i)).toDF("id", "x", "y")
    val r = Analytics.chatterjeeXi(up, col("id"), col("x"), col("y"))
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("sum_dr") == 3L)
    assert(r.getAs[Long]("denom2") == 20L)
    assert(r.getAs[Long]("xi_ppm") == 400000L)
    // y = −x scores identically (xi sees dependence, not direction)
    val down = (1L to 4L).map(i => (i, i, -i)).toDF("id", "x", "y")
    val rd = Analytics.chatterjeeXi(down, col("id"), col("x"), col("y"))
      .collect().head
    assert(rd.getAs[Long]("xi_ppm") == 400000L)
    // constant y: no variation to explain -> null
    val flat = (1L to 4L).map(i => (i, i, 7L)).toDF("id", "x", "y")
    val rf = Analytics.chatterjeeXi(flat, col("id"), col("x"), col("y"))
      .collect().head
    assert(rf.isNullAt(rf.fieldIndex("xi_ppm")))
  }

  test("gainsTable: top deciles capture the planted positives") {
    // 20 rows, scores 20..1, positives on the top 5 scores
    val df = (1 to 20).map(i => (i.toLong, if (i > 15) 1L else 0L, i.toLong))
      .toDF("id", "y", "s")
    val out = Analytics.gainsTable(df, col("id"), col("y"), col("s"))
      .collect().map(r => r.getAs[Long]("decile") -> r).toMap
    assert(out.size == 10)
    assert(out(0L).getAs[Long]("n") == 2L && out(0L).getAs[Long]("pos") == 2L)
    assert(out(0L).getAs[Long]("cum_capture_ppm") == 400000L) // 2/5
    assert(out(0L).getAs[Long]("lift_ppm") == 4000000L) // (2/2)/(5/20)
    assert(out(1L).getAs[Long]("cum_capture_ppm") == 800000L)
    assert(out(2L).getAs[Long]("pos") == 1L &&
      out(2L).getAs[Long]("cum_capture_ppm") == 1000000L)
    assert(out(9L).getAs[Long]("pos") == 0L &&
      out(9L).getAs[Long]("cum_capture_ppm") == 1000000L &&
      out(9L).getAs[Long]("lift_ppm") == 0L)
  }

  test("f1Sweep: perfect separation finds the clean cut") {
    // neg at scores 1,2; pos at 3,4 -> t = 3 is a perfect filter
    val df = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("y", "s")
    val r = Analytics.f1Sweep(df, col("y"), col("s")).collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("p") == 2L)
    assert(r.getAs[Long]("best_threshold") == 3L)
    assert(r.getAs[Long]("tp") == 2L && r.getAs[Long]("fp") == 0L)
    assert(r.getAs[Long]("f1_ppm") == 1000000L)
    assert(r.getAs[Long]("precision_ppm") == 1000000L)
    assert(r.getAs[Long]("recall_ppm") == 1000000L)
    // interleaved: pos at 2,4, neg at 1,3 — t=2: TP=2 FP=1 F1=4/5;
    // t=4: TP=1 FP=0 F1=2/3; t=2 wins
    val mix = Seq((0L, 1L), (1L, 2L), (0L, 3L), (1L, 4L)).toDF("y", "s")
    val rm = Analytics.f1Sweep(mix, col("y"), col("s")).collect().head
    assert(rm.getAs[Long]("best_threshold") == 2L)
    assert(rm.getAs[Long]("f1_ppm") == 800000L)
    // no positives: recall refuses, f1 floor 0 at the smallest score
    val nop = Seq((0L, 5L), (0L, 7L)).toDF("y", "s")
    val rn = Analytics.f1Sweep(nop, col("y"), col("s")).collect().head
    assert(rn.getAs[Long]("f1_ppm") == 0L &&
      rn.getAs[Long]("best_threshold") == 5L &&
      rn.isNullAt(rn.fieldIndex("recall_ppm")))
  }

  test("topkTurnover: consecutive-tick Jaccard of the top set") {
    // tick 1 top2 {a,b}; tick 2 top2 {b,c}; tick 3 top2 {b,c}
    val df = Seq((1L, "a", 10L), (1L, "b", 9L), (1L, "c", 1L),
      (2L, "b", 10L), (2L, "c", 9L), (2L, "a", 1L),
      (3L, "b", 10L), (3L, "c", 9L)).toDF("t", "k", "w")
    val out = Analytics.topkTurnover(df, col("t"), col("k"), col("w"), 2)
      .collect().map(r => r.getAs[Long]("tick") -> r).toMap
    assert(out.size == 2) // tick 1 has no predecessor
    assert(out(2L).getAs[Long]("inter") == 1L &&
      out(2L).getAs[Long]("jaccard_ppm") == 333333L) // 1 / 3
    assert(out(3L).getAs[Long]("inter") == 2L &&
      out(3L).getAs[Long]("jaccard_ppm") == 1000000L)
    // k larger than the tick population: sets are whole populations
    val small = Seq((1L, "a", 1L), (2L, "a", 1L), (2L, "b", 1L))
      .toDF("t", "k", "w")
    val rs = Analytics.topkTurnover(small, col("t"), col("k"), col("w"), 5)
      .collect().head
    assert(rs.getAs[Long]("k_prev") == 1L && rs.getAs[Long]("k_cur") == 2L)
    assert(rs.getAs[Long]("jaccard_ppm") == 500000L)
  }

  test("rmst: step-area under KM with tau clipping and censoring") {
    // events at t = 2, 4 (no censoring): S = 1 on [0,2), 0.5 on [2,4)
    // RMST(5) = 2 + 1 + 0 = 3
    val ev = Seq((2L, 1L), (4L, 1L)).toDF("dur", "e")
    val r = Analytics.rmst(ev, col("dur"), col("e"), tau = 5L)
      .collect().head
    assert(r.getAs[Long]("n") == 2L && r.getAs[Double]("rmst") == 3.0d)
    // tau inside the curve clips the last interval: RMST(3) = 2 + 0.5
    val r3 = Analytics.rmst(ev, col("dur"), col("e"), tau = 3L)
      .collect().head
    assert(r3.getAs[Double]("rmst") == 2.5d)
    // a censored subject holds S at 1 through its interval:
    // censor@1, event@3 -> S = 1 on [0,3), 0 after; RMST(4) = 3
    val cen = Seq((1L, 0L), (3L, 1L)).toDF("dur", "e")
    val rc = Analytics.rmst(cen, col("dur"), col("e"), tau = 4L)
      .collect().head
    assert(rc.getAs[Double]("rmst") == 3.0d)
  }

  test("cvar: closed-tail mean beyond the exact quantile") {
    val df = (1L to 100L).map(v => ("g", v)).toDF("g", "v")
    // p95: VaR = 95, tail {95..100}, mean 97.5
    val r = Analytics.cvar(df, col("g"), col("v"), p = 0.95)
      .collect().head
    assert(r.getAs[Long]("var_value") == 95L && r.getAs[Long]("tail_n") == 6L)
    assert(r.getAs[Long]("cvar_micros") == 97500000L)
    // p50: VaR = 50, tail {50..100}, mean 75
    val r5 = Analytics.cvar(df, col("g"), col("v"), p = 0.5)
      .collect().head
    assert(r5.getAs[Long]("var_value") == 50L &&
      r5.getAs[Long]("cvar_micros") == 75000000L)
    // ties at the quantile are all inside the tail
    val t = Seq(("g", 1L), ("g", 9L), ("g", 9L), ("g", 9L)).toDF("g", "v")
    val rt = Analytics.cvar(t, col("g"), col("v"), p = 0.5)
      .collect().head
    assert(rt.getAs[Long]("var_value") == 9L && rt.getAs[Long]("tail_n") == 3L)
    assert(rt.getAs[Long]("cvar_micros") == 9000000L)
  }

  test("conformalQuantile: (n+1) rank correction; small groups refuse") {
    // n = 9 scores 1..9, alpha = 0.1: m = ceil(10·0.9) = 9 -> qhat = 9
    val nine = (1L to 9L).map(v => ("g", v)).toDF("g", "v")
    val r = Analytics.conformalQuantile(nine, col("g"), col("v"),
      alphaPpm = 100000L).collect().head
    assert(r.getAs[Long]("n") == 9L && r.getAs[Long]("m") == 9L)
    assert(r.getAs[Long]("qhat") == 9L)
    // alpha = 0.5: m = 5 -> the median-ish radius
    val r5 = Analytics.conformalQuantile(nine, col("g"), col("v"),
      alphaPpm = 500000L).collect().head
    assert(r5.getAs[Long]("m") == 5L && r5.getAs[Long]("qhat") == 5L)
    // n = 4 at alpha = 0.1: m = ceil(4.5) = 5 > n -> cannot certify
    val four = (1L to 4L).map(v => ("g", v)).toDF("g", "v")
    val rf = Analytics.conformalQuantile(four, col("g"), col("v"),
      alphaPpm = 100000L).collect().head
    assert(rf.getAs[Long]("m") == 5L && rf.isNullAt(rf.fieldIndex("qhat")))
  }

  test("quade: range-weighted blocks, hand F; perfect agreement null") {
    // block 1: (1,2) range 1 -> Q2 = 2; block 2: (3,10) range 7 -> Q2 = 4
    // U = ±2, ±4; S = (−6, +6); F = 1·72/(2·40−72) = 9 -> 9e6 ppm
    val df = Seq((1L, "A", 1L), (1L, "B", 2L), (2L, "A", 3L), (2L, "B", 10L))
      .toDF("b", "t", "v")
    val r = Analytics.quade(df, col("b"), col("t"), col("v"))
      .collect().head
    assert(r.getAs[Long]("n_blocks") == 2L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Long]("n_dropped") == 0L)
    assert(r.getAs[Long]("f_ppm") == 9000000L)
    // flat blocks: every within-rank tied -> U = 0 everywhere -> null
    val flat = Seq((1L, "A", 5L), (1L, "B", 5L), (2L, "A", 7L), (2L, "B", 7L))
      .toDF("b", "t", "v")
    val rf = Analytics.quade(flat, col("b"), col("t"), col("v"))
      .collect().head
    assert(rf.isNullAt(rf.fieldIndex("f_ppm")))
    // an incomplete block is counted and excluded
    val mix = Seq((1L, "A", 1L), (1L, "B", 2L), (2L, "A", 3L), (2L, "B", 10L),
      (3L, "A", 9L)).toDF("b", "t", "v")
    val rm = Analytics.quade(mix, col("b"), col("t"), col("v"))
      .collect().head
    assert(rm.getAs[Long]("n_blocks") == 2L && rm.getAs[Long]("n_dropped") == 1L)
    assert(rm.getAs[Long]("f_ppm") == 9000000L)
  }

  test("seasonalMannKendall: within-season S and Var add; cycles cancel") {
    // two seasons, each a clean 1,2,3 ramp: S = 3 + 3, var18 = 66 + 66
    val up = Seq(("k", 1L, 1L, 1L), ("k", 1L, 2L, 2L), ("k", 1L, 3L, 3L),
      ("k", 2L, 4L, 1L), ("k", 2L, 5L, 2L), ("k", 2L, 6L, 3L))
      .toDF("g", "q", "d", "c")
    val r = Analytics.seasonalMannKendall(up, col("g"), col("q"),
      col("d"), col("c")).collect().head
    assert(r.getAs[Long]("n_seasons") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("s") == 6L && r.getAs[Long]("var18") == 132L)
    val zExp = math.floor((6.0 - 1.0) * 1e6 / math.sqrt(132.0 / 18.0)).toLong
    assert(r.getAs[Long]("z_micros") == zExp)
    // a pure cycle: season 1 rises, season 2 falls -> S = 0, z = 0
    val cyc = Seq(("k", 1L, 1L, 1L), ("k", 1L, 2L, 2L), ("k", 1L, 3L, 3L),
      ("k", 2L, 4L, 3L), ("k", 2L, 5L, 2L), ("k", 2L, 6L, 1L))
      .toDF("g", "q", "d", "c")
    val rc = Analytics.seasonalMannKendall(cyc, col("g"), col("q"),
      col("d"), col("c")).collect().head
    assert(rc.getAs[Long]("s") == 0L && rc.getAs[Long]("z_micros") == 0L)
    // plain MK on the cycle data WOULD see cross-season pairs: the
    // seasonal pair count is only the within-season 2·C(3,2)
    assert(rc.getAs[Long]("var18") == 132L)
  }

  test("holmBonferroni: step-down stops at the first failure") {
    // alpha = 0.05: ranks 1,2 pass (5·1000, 4·10000), rank 3 fails
    // (3·20000 = 60000) -> reject exactly {1, 2}
    val df = Seq(("a", 1000L), ("b", 10000L), ("c", 20000L),
      ("d", 400000L), ("e", 900000L)).toDF("id", "p")
    val out = Analytics.holmBonferroni(df, col("id"), col("p"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("rejected"))
      .toMap
    assert(out == Map("a" -> true, "b" -> true, "c" -> false,
      "d" -> false, "e" -> false))
    // BLOCKED case: rank 2 would pass alone (49000·1 <= 50000) but
    // rank 1 fails (26000·2 = 52000) -> nothing rejected
    val blocked = Seq(("x", 49000L), ("y", 26000L)).toDF("id", "p")
    val ob = Analytics.holmBonferroni(blocked, col("id"), col("p"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("rejected"))
      .toMap
    assert(ob == Map("x" -> false, "y" -> false))
    // everything passing rejects everything
    val all = Seq(("x", 1000L), ("y", 2000L)).toDF("id", "p")
    val oa = Analytics.holmBonferroni(all, col("id"), col("p"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("rejected"))
      .toMap
    assert(oa == Map("x" -> true, "y" -> true))
  }

  test("tukeyHsd: hand q on equal-variance trios; flat groups null") {
    // a=[1,2,3], b=[4,5,6], c=[7,8,9]: every within term 6/3 = 2.0,
    // SSW = 6, MSW = 6/(9−3) = 1, q_ab = 3/sqrt(1/2·(2/3)) = 3√3
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L),
      ("b", 6L), ("c", 7L), ("c", 8L), ("c", 9L)).toDF("g", "v")
    val out = Analytics.tukeyHsd(df, col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    val qAb = BigDecimal(3.0 / math.sqrt(1.0 / 2.0 * (1.0 / 3.0 + 1.0 / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("a", "b")).getAs[Double]("q") == qAb)
    val qAc = BigDecimal(6.0 / math.sqrt(1.0 / 2.0 * (1.0 / 3.0 + 1.0 / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("a", "c")).getAs[Double]("q") == qAc)
    assert(out(("b", "c")).getAs[Double]("q") == qAb)
    // all groups constant: SSW = 0 -> q null everywhere
    val flat = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L)).toDF("g", "v")
    val rf = Analytics.tukeyHsd(flat, col("g"), col("v")).collect().head
    assert(rf.isNullAt(rf.fieldIndex("q")))
  }

  test("runsTest: hand-counted runs around the median; degenerates null") {
    // days 1..7, values 4,9,3,8,2,7,5: median 5 (day 7 dropped),
    // signs -,+,-,+,-,+ -> R = 6 perfect alternation, n1 = n2 = 3
    val df = Seq(("k", 1L, 4L), ("k", 2L, 9L), ("k", 3L, 3L), ("k", 4L, 8L),
      ("k", 5L, 2L), ("k", 6L, 7L), ("k", 7L, 5L)).toDF("g", "d", "c")
    val r = Analytics.runsTest(df, col("g"), col("d"), col("c"))
      .collect().head
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 3L)
    assert(r.getAs[Long]("runs") == 6L)
    // A = R·m − 2n1n2 − m = 12, σ² = 216/180
    val zExp = BigDecimal(12.0 / 6.0 / math.sqrt(216.0 / 180.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == zExp)
    // clustered: 1,2,3 below then 7,8,9 above the median 7? median of
    // 1,2,3,7,8,9 is the ceil(3)rd = 3 -> signs -,-,+,+,+ (day 3 drop)
    val cl = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 7L),
      ("k", 5L, 8L), ("k", 6L, 9L)).toDF("g", "d", "c")
    val rc = Analytics.runsTest(cl, col("g"), col("d"), col("c"))
      .collect().head
    assert(rc.getAs[Long]("runs") == 2L && rc.getAs[Double]("z") < 0.0d)
    // constant series: everything equals the median -> all dropped
    val flat = Seq(("f", 1L, 3L), ("f", 2L, 3L)).toDF("g", "d", "c")
    val rfl = Analytics.runsTest(flat, col("g"), col("d"), col("c"))
      .collect().head
    assert(rfl.getAs[Long]("runs") == 0L && rfl.isNullAt(rfl.fieldIndex("z")))
  }

  test("jarqueBera: two-point symmetric law JB = n/6; fence at chi2(2)") {
    // {-1,+1} equally: skew 0, excess kurtosis -2, JB = n/6·(0 + 4/4)
    def twoPoint(g: String, nHalf: Int) =
      (1 to nHalf).flatMap(_ => Seq((g, -1L), (g, 1L)))
    val df = (twoPoint("big", 18) ++ twoPoint("small", 6)).toDF("g", "v")
    val out = Analytics.jarqueBera(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val big = out("big")
    assert(big.getAs[Long]("n") == 36L)
    assert(big.getAs[Double]("skewness") == 0.0d)
    assert(big.getAs[Double]("kurtosis_excess") == -2.0d)
    assert(big.getAs[Double]("jb") == 6.0d) // 36/6 · (0 + 1)
    assert(big.getAs[Boolean]("sig_95")) // 6.0 >= 5.991465
    val small = out("small")
    assert(small.getAs[Double]("jb") == 2.0d && !small.getAs[Boolean]("sig_95"))
    // constant group: zero variance -> every shape stat null
    val c = Analytics.jarqueBera(Seq(("c", 5L), ("c", 5L)).toDF("g", "v"),
      col("g"), col("v")).collect().head
    assert(c.isNullAt(c.fieldIndex("jb")) && c.isNullAt(c.fieldIndex("sig_95")))
  }

  test("pettitt: level shift found at the break; midrank ties exact") {
    // 1,2,3 | 10,11,12 — all distinct, U_t = 2·Σr − t·7:
    // U = (−5,−8,−9,−8,−5) → K = 9 at day 3
    val a = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("a", 4L, 10L), ("a", 5L, 11L), ("a", 6L, 12L)).toDF("g", "d", "c")
    val ra = Analytics.pettitt(a, col("g"), col("d"), col("c"))
      .collect().head
    assert(ra.getAs[Long]("n") == 6L && ra.getAs[Long]("k_abs") == 9L)
    assert(ra.getAs[Long]("at_day") == 3L)
    // x = 6·81·1e6 div (216 + 36) = 1928571, below the ln40 fence
    assert(ra.getAs[Long]("x_micros") == 1928571L)
    assert(!ra.getAs[Boolean]("sig_95"))
    // ties: 5,5 | 9,9 — doubled midranks 3,3,7,7; U = (−2,−4,−2),
    // and the direct pair count at t=2 is 4·sgn(5−9) = −4: exact
    val b = Seq(("b", 1L, 5L), ("b", 2L, 5L), ("b", 3L, 9L), ("b", 4L, 9L))
      .toDF("g", "d", "c")
    val rb = Analytics.pettitt(b, col("g"), col("d"), col("c"))
      .collect().head
    assert(rb.getAs[Long]("k_abs") == 4L && rb.getAs[Long]("at_day") == 2L)
    // constant series: every U_t = 0, earliest day wins the tie
    val f = Seq(("f", 1L, 3L), ("f", 2L, 3L), ("f", 3L, 3L)).toDF("g", "d", "c")
    val rf = Analytics.pettitt(f, col("g"), col("d"), col("c"))
      .collect().head
    assert(rf.getAs[Long]("k_abs") == 0L && rf.getAs[Long]("at_day") == 1L)
    // a long clean shift goes significant: 30 low days then 30 high
    val s = ((1 to 30).map(i => ("s", i.toLong, 100L + i)) ++
      (31 to 60).map(i => ("s", i.toLong, 900L + i))).toDF("g", "d", "c")
    val rs = Analytics.pettitt(s, col("g"), col("d"), col("c"))
      .collect().head
    assert(rs.getAs[Long]("k_abs") == 900L && rs.getAs[Long]("at_day") == 30L)
    assert(rs.getAs[Boolean]("sig_95"))
  }
}
