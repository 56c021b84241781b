package graft.operators

import graft.core.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** First-class relational/CEP operators for the query patterns the
  * reference implements with hand-rolled stateful Transformers
  * (SURVEY §2.2). Each is a declarative plan Catalyst can optimize —
  * partial aggregation, join-strategy selection and pushdown all apply.
  */
object Relational {

  /** Dense 1-based global row index over an explicit total order — the
    * scale-safe replacement for a no-partition `row_number()` window
    * (which collapses to ONE task): a running count of 1 over
    * [[prefixSums]], so it takes that operator's size-gated route and
    * its persisted sort. Adds `indexCol` (non-null long). Requires
    * `orderBy` to be a total order for a deterministic result.
    */
  def globalIndex(df: DataFrame, orderBy: Seq[Column], indexCol: String = "_rn"): DataFrame =
    prefixSums(df, orderBy, Seq(lit(1L) -> indexCol))

  /** Tumbling count-window aggregation (reference:
    * test/examples/window_test.exs:7-32): global row order chopped into
    * fixed-size batches. Built on [[globalIndex]], so the sort is a
    * distributed range sort — no single-partition WindowExec.
    */
  def tumblingCountWindow(df: DataFrame, orderBy: Seq[Column], size: Int, aggs: Seq[Column]): DataFrame =
    globalIndex(df, orderBy)
      .withColumn("window_id", floor((col("_rn") - 1) / size))
      .groupBy(col("window_id"))
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding count-window (reference: window_test.exs:36-63): each row
    * carries aggregates over the trailing `size` rows. `frameAggs`
    * receives the framed WindowSpec and returns the aggregate columns
    * (e.g. `w => Seq(avg(c).over(w).as("sliding_avg"))`), so any frame
    * aggregate — including exact-decimal sums that avoid float drift —
    * can ride the same single shuffle.
    */
  def slidingCountWindow(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      size: Int)(
      frameAggs: org.apache.spark.sql.expressions.WindowSpec => Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(-(size - 1), Window.currentRow)
    df.select(df.columns.toIndexedSeq.map(col) ++ frameAggs(w): _*)
  }

  /** Convenience: trailing-window average of `valueCol`, computed as an
    * exact decimal sum divided by the frame row count — deterministic
    * bit-for-bit across engines (no incremental float add/retract drift).
    */
  def slidingAvg(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      size: Int,
      valueCol: Column): DataFrame =
    slidingCountWindow(df, partitionBy, orderBy, size) { w =>
      Seq(
        (sum(valueCol.cast("decimal(18,6)")).over(w).cast("double") /
          count(lit(1)).over(w)).as("sliding_avg"))
    }

  /** Positional zip of two streams (the reference's round-robin pairing,
    * README.md:129-160): i-th row of `a` joined with i-th row of `b`.
    * Requires explicit total orders on both sides.
    */
  def zipByIndex(a: DataFrame, aOrder: Seq[Column], b: DataFrame, bOrder: Seq[Column]): DataFrame =
    zipByIndexN(Seq((a, aOrder), (b, bOrder)))

  /** N-way positional zip (reference: the n-way round-robin pairing in
    * test/examples/simple_numbers_test.exs:107-165): i-th rows of all
    * frames joined into one row. Truncates to the shortest frame, like
    * the reference's pairing accumulator that only emits complete
    * tuples. Each side is indexed with [[globalIndex]] (distributed
    * range sort, no single-partition window); the pairing itself is an
    * equi-join on the index.
    */
  def zipByIndexN(frames: Seq[(DataFrame, Seq[Column])]): DataFrame = {
    require(frames.size >= 2, "zipByIndexN needs at least two frames")
    frames.map { case (df, order) => globalIndex(df, order) }
      .reduce((a, b) => a.join(b, "_rn")).drop("_rn")
  }

  /** As-of join: for each left row, the nearest right row on the same
    * key — `backward` (default): latest right with `rightTs <= leftTs`;
    * `forward`: earliest right with `rightTs >= leftTs` (ties join in
    * both directions). Implemented as a tagged union + one window pass
    * — one shuffle on (key), no range-join explosion, the
    * scale-correct form of the classic point-in-time join.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightValueCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asOfJoin: direction must be backward|forward, got $direction")
    val lTagged = left.withColumn("_ts", col(leftTs)).withColumn("_side", lit(1))
    // a null right timestamp can never satisfy rightTs <=/>= leftTs —
    // and left in the union it would sort to an end and leak its value
    // columns into real frames
    val rTagged = right
      .select((Seq(col(key), col(rightTs).as("_ts")) ++ rightValueCols.map(col)): _*)
      .where(col("_ts").isNotNull)
      .withColumn("_side", lit(0))
    val leftCols = left.columns
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // at equal _ts the right row (side 0) precedes the left in BOTH
    // directions, so ties are joinable either way. Null-ts LEFT rows
    // must sort before every right row (empty frame -> null match):
    // asc is NULLS FIRST natively; desc needs it spelled out.
    val ord =
      if (direction == "backward") Seq(col("_ts"), col("_side"))
      else Seq(col("_ts").desc_nulls_first, col("_side"))
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightValueCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(when(col("_side") === 0, col(c)), ignoreNulls = true).over(w))
    }
    filled.where(col("_side") === 1).select((leftCols.toIndexedSeq ++ rightValueCols).map(col): _*)
  }

  /** [[asOfJoin]]'s NEAREST direction: each left row takes whichever
    * right match — last-at-or-before or first-after — sits closer in
    * time, ties to backward (so an exact-timestamp match always wins
    * with distance 0). The sensor-alignment join: "the reading closest
    * to this event", not merely the most recent one.
    *
    * Same single union + per-key sort as [[asOfJoin]]; BOTH direction
    * fills ride the one sorted pass as two frames of the same window
    * (unbounded-preceding `last` / unbounded-following `first`), so
    * nearest costs the same shuffle as backward — never a range join.
    * Null left timestamps match nothing. The ts columns must be
    * NUMERIC (epoch micros, the house convention) — distance is a
    * subtraction, which a raw TimestampType would turn into an
    * interval. Output: left columns + `rightValueCols` + `asof_dist`
    * (same units as the ts columns, NULL when no match exists on
    * either side).
    */
  def asOfJoinNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightValueCols: Seq[String]): DataFrame = {
    val lTagged = left.withColumn("_ts", col(leftTs)).withColumn("_side", lit(1))
    val rTagged = right
      .select((Seq(col(key), col(rightTs).as("_ts")) ++ rightValueCols.map(col)): _*)
      .where(col("_ts").isNotNull)
      .withColumn("_side", lit(0))
      .withColumn("_rts", col("_ts"))
    val leftCols = left.columns
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col("_ts"), col("_side"))
    val wB = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def back(c: String) = last(when(col("_side") === 0, col(c)), ignoreNulls = true).over(wB)
    def fwd(c: String) = first(when(col("_side") === 0, col(c)), ignoreNulls = true).over(wF)
    val filled = (rightValueCols :+ "_rts").foldLeft(unioned) { (df, c) =>
      df.withColumn(s"${c}_b", back(c)).withColumn(s"${c}_f", fwd(c))
    }
    val db = col("_ts") - col("_rts_b")
    val df_ = col("_rts_f") - col("_ts")
    // backward wins when it exists and is at least as close; a null
    // left ts disables both sides entirely
    val useBack = col("_rts_b").isNotNull && (col("_rts_f").isNull || db <= df_)
    val picked = rightValueCols.foldLeft(filled) { (d, c) =>
      d.withColumn(c, when(col("_ts").isNull, lit(null))
        .when(useBack, col(s"${c}_b")).otherwise(col(s"${c}_f")))
    }.withColumn("asof_dist",
      when(col("_ts").isNull, lit(null))
        .when(useBack, db).otherwise(df_))
    picked.where(col("_side") === 1)
      .select((leftCols.toIndexedSeq ++ rightValueCols :+ "asof_dist").map(col): _*)
  }

  /** Gap-based sessionization: events within `gapSeconds` of the
    * previous event (per key) share a session. lag + conditional cumsum
    * — one shuffle on the key.
    */
  def sessionize(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      gapSeconds: Long,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol +: tieBreak: _*)
    df.withColumn("_prev_ts", lag(tsCol, 1).over(w))
      .withColumn(
        "_new_session",
        when(col("_prev_ts").isNull ||
          tsCol.cast("long") - col("_prev_ts").cast("long") > gapSeconds, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev_ts", "_new_session")
  }

  /** The parcels CEP state machine (reference:
    * test/examples/parcels_test.exs:106-252) as one declarative plan:
    * per order, did all expected shipments arrive within `slaDays` of
    * the order? The reference buffers events in per-order actor state;
    * here it is a shuffle-on-order-key aggregate — same answer, scales
    * linearly, and AQE handles skewed orders.
    *
    * Semantics match the reference's decide/2 run in event-time order
    * (reference: test/examples/parcels_test.exs:144-201):
    *  - the order COMPLETES at its `expected`-th shipment; if that
    *    shipment (the expected-th smallest ship time) is within the
    *    deadline, the order is ALL_PARCELS_SHIPPED — later extra
    *    shipments are ignored, exactly like the reference's nil-memo
    *    branch after completion;
    *  - otherwise any late shipment before completion trips
    *    THRESHOLD_EXCEEDED (even while the order is incomplete);
    *  - else PENDING.
    * Per-order shipment lists are collected+sorted — bounded by
    * parcels-per-order, not by table size, so this stays a single
    * shuffle-on-key aggregate at any scale.
    */
  def shipmentSla(
      orders: DataFrame,
      shipments: DataFrame,
      orderKey: String,
      orderTs: String,
      expectedCol: String,
      shipTs: String,
      slaDays: Int): DataFrame = {
    // Null ship timestamps carry no information for the state machine;
    // drop them so the count and the sorted list stay consistent.
    val shipped = shipments.where(col(shipTs).isNotNull).groupBy(col(orderKey))
      .agg(
        count(lit(1)).as("n_shipped"),
        sort_array(collect_list(col(shipTs))).as("_ship_ts_sorted"))
    val deadline = col(orderTs) + expr(s"INTERVAL $slaDays DAYS")
    val expected = col(expectedCol).cast("int")
    // element_at is 1-based; clamp the probe index so expected <= 0
    // (trivially-complete orders, decided by the first branch) cannot
    // raise INVALID_INDEX_OF_ZERO.
    val nthShip = element_at(col("_ship_ts_sorted"), greatest(expected, lit(1)))
    orders
      .join(shipped, Seq(orderKey), "left")
      .withColumn(
        "status",
        when(expected <= 0, lit("ALL_PARCELS_SHIPPED"))
          .when(
            col("n_shipped") >= expected && nthShip <= deadline,
            lit("ALL_PARCELS_SHIPPED"))
          .when(
            element_at(col("_ship_ts_sorted"), col("n_shipped").cast("int")) > deadline,
            lit("THRESHOLD_EXCEEDED"))
          .otherwise(lit("PENDING")))
      .drop("_ship_ts_sorted")
  }

  /** Binned range join: `point ∈ [lo, hi]` with no usable equi-key.
    * A naive plan is a broadcast-nested-loop (O(|L|·|R|)); binning
    * turns it into an equi-join on bin id — each interval explodes to
    * the bins it overlaps, each point maps to one bin, candidates are
    * verified with the exact predicate. With `binWidth` close to the
    * median interval length each interval lands in O(1) bins and the
    * join is O(|L| + |R| + matches), the standard interval-join layout.
    * Intervals must be non-negative (`hi >= lo`).
    */
  def binnedRangeJoin(
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      points: DataFrame,
      pointCol: String,
      binWidth: Long,
      equiKeys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    // Floor-division in INTEGER arithmetic: double division would lose
    // precision past 2^53 (nanosecond epochs) and could place a value
    // in the wrong bin; `div` truncates toward zero, so correct for
    // negative values to get true floor semantics.
    def bin(c: Column): Column = {
      val v = c.cast("long")
      val q = call_function("div", v, lit(binWidth)) // integral divide, truncates toward 0
      when(v % binWidth < 0, q - 1).otherwise(q) // floor semantics for negatives
    }
    val iBinned = intervals.withColumn(
      "_bin", explode(sequence(bin(col(loCol)), bin(col(hiCol)))))
    val pBinned = points.withColumn("_bin", bin(col(pointCol)))
    // Any equi-keys join alongside the bin id, so candidate volume is
    // per-key-per-bin, not per-bin across all keys.
    iBinned.join(pBinned, "_bin" +: equiKeys)
      .where(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bin")
  }

  /** Interval-overlap join: pairs where `[lLo,lHi]` and `[rLo,rHi]`
    * intersect — the interval-interval generalization of
    * [[binnedRangeJoin]] (temporal overlap, IP-range intersection,
    * genomic intervals). Both sides explode to their covered bins; a
    * candidate pair can share many bins, so it is charged to the bin
    * where the OVERLAP STARTS (`max(lLo, rLo)`) — an arithmetic dedup,
    * no `dropDuplicates` shuffle — then verified with the exact
    * predicate. O(|L| + |R| + matches) at bin widths near the median
    * interval length.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      lLo: String,
      lHi: String,
      right: DataFrame,
      rLo: String,
      rHi: String,
      binWidth: Long,
      equiKeys: Seq[String] = Nil,
      maxBinsPerInterval: Long = 100000L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(maxBinsPerInterval > 0, s"maxBinsPerInterval must be positive")
    def bin(c: Column): Column = {
      val v = c.cast("long")
      val q = call_function("div", v, lit(binWidth))
      when(v % binWidth < 0, q - 1).otherwise(q)
    }
    // An open-ended sentinel interval (hi = Long.MaxValue) or a badly
    // undersized binWidth would explode one row into billions of bins
    // and die deep inside sequence() — fail with an actionable message
    // instead (raise binWidth, or cap/split open intervals upstream).
    def guarded(lo: Column, hi: Column): Column = {
      val n = bin(hi) - bin(lo) + 1
      when(n > maxBinsPerInterval,
        raise_error(concat(
          lit(s"intervalOverlapJoin: interval covers more than $maxBinsPerInterval bins " +
            s"at binWidth=$binWidth (lo="), lo.cast("string"), lit(", hi="),
          hi.cast("string"), lit(") — raise binWidth or cap open-ended intervals"))))
        .otherwise(sequence(bin(lo), bin(hi)))
    }
    val lBinned = left.withColumn("_bin", explode(guarded(col(lLo), col(lHi))))
    val rBinned = right.withColumn("_bin", explode(guarded(col(rLo), col(rHi))))
    lBinned.join(rBinned, "_bin" +: equiKeys)
      .where(col(lLo) <= col(rHi) && col(rLo) <= col(lHi) &&
        bin(greatest(col(lLo), col(rLo))) === col("_bin"))
      .drop("_bin")
  }

  /** Skew-resistant equi-join: the classic salting pattern for when one
    * join key carries a disproportionate share of rows and AQE's skew
    * splitting isn't available or sufficient. The skewed (left) side
    * gets a deterministic salt in [0, saltFactor) derived from a hash
    * of its full row; the right side is replicated once per salt value.
    * The join key becomes (key, salt), so the hot key's rows spread
    * over `saltFactor` reducers instead of one.
    *
    * Cost model: right side × saltFactor replication — use when the
    * left is skewed and the right is modest (but too big to broadcast).
    * Inner and left-outer semantics are preserved exactly (the right
    * is fully present under every salt).
    *
    * The salt is seeded-random per row (not a row-content hash): the
    * typical skew case is MANY IDENTICAL rows under one hot key, which
    * a content hash would send to a single salt, defeating the spread;
    * and content hashing would reject unhashable column types (maps).
    * Any salt assignment is correct — the right side exists under
    * every salt — so retry nondeterminism of rand() cannot change the
    * join result.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      saltFactor: Int,
      joinType: String = "inner",
      seed: Long = 42L): DataFrame = {
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    require(
      joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"saltedJoin supports inner/left joins, got $joinType")
    val lSalted = left.withColumn(
      "_salt", floor(rand(seed) * saltFactor).cast("int"))
    val rSalted = right.withColumn(
      "_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    lSalted.join(rSalted, on :+ "_salt", joinType).drop("_salt")
  }

  /** Build a Bloom filter over one key column — driver-side
    * treeAggregate (one projected pass; the sketch itself is
    * `expectedItems`-sized bits, independent of the input row count).
    * Integral keys insert as longs, strings as their UTF-8 bytes —
    * mirrored exactly by [[graft.functions.BloomMightContain]].
    */
  def buildBloom(
      df: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.03): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val keyed = df.select(col(keyCol)).where(col(keyCol).isNotNull)
    val isString = keyed.schema.head.dataType ==
      org.apache.spark.sql.types.StringType
    keyed.rdd.treeAggregate(BloomFilter.create(expectedItems, fpp))(
      (bf, row) => {
        if (isString) bf.putBinary(row.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        else bf.putLong(row.get(0) match {
          case l: Long => l; case i: Int => i.toLong
          case s: Short => s.toLong; case b: Byte => b.toLong
          case other => throw new IllegalArgumentException(
            s"buildBloom: unsupported key ${other.getClass}")
        })
        bf
      },
      (a, b) => a.mergeInPlace(b))
  }

  /** Bloom-pruned equi-join: sketch the (smaller) build side's keys,
    * pre-filter the probe side BEFORE its shuffle, then join normally.
    * This is the explicit, composable form of runtime row-level
    * filtering: at 100 TB the probe side's exchange shrinks by the
    * join selectivity (bytes that never leave the scan stage), while
    * the result is EXACTLY the plain join — Bloom filters have no
    * false negatives, and false positives are removed by the join
    * itself. Restricted to inner/semi joins: pruning the probe side of
    * an outer join would change its result.
    *
    * `expectedItems` sizes the sketch; pass the build side's
    * (approximate) distinct-key count. -1 runs an eager count() over
    * the build side (logged — the build side should be the small one,
    * so this is cheap by construction).
    */
  def bloomPrunedJoin(
      probe: DataFrame,
      build: DataFrame,
      on: Seq[String],
      joinType: String = "inner",
      expectedItems: Long = -1L,
      fpp: Double = 0.03): DataFrame = {
    require(joinType == "inner" || joinType == "left_semi",
      s"bloomPrunedJoin supports inner/left_semi (pruning changes outer-join results), got $joinType")
    require(on.nonEmpty, "bloomPrunedJoin: need at least one join column")
    val items =
      if (expectedItems > 0) expectedItems
      else {
        System.err.println(
          "[graft.Relational.bloomPrunedJoin] no expectedItems given: running an eager " +
            "count() over the build side to size the sketch")
        math.max(build.count(), 1L)
      }
    val pruned = on.foldLeft(probe) { (df, k) =>
      df.where(graft.functions.VectorFunctions.bloomMightContain(
        col(k), buildBloom(build, k, items, fpp)))
    }
    pruned.join(build, on, joinType)
  }

  /** Top-k per group via rank window — the scalable form of per-group
    * sort+limit (partial TopK pushed below the shuffle by Spark's
    * WindowGroupLimit optimization).
    */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Time-series gap fill: densify each key's integer tick axis to a
    * regular `step` grid between that key's own min and max tick, then
    * fill the manufactured rows — `locf` columns forward-fill from the
    * last observed value (last-observation-carried-forward), `defaults`
    * columns take a constant. Manufactured rows carry `is_gap = true`.
    * The resample/gap-fill primitive every metrics or sensor pipeline
    * needs before rate/delta math; input must be pre-aggregated to one
    * row per (key, tick).
    *
    * All grid arithmetic is integer (ticks are pre-bucketed longs), so
    * the result is cross-engine exact; LOCF is deterministic because
    * (key, tick) is unique by contract. Ticks must lie ON the grid —
    * a row whose tick is not `min + i·step` for its key matches no
    * spine row and is dropped (bucket ticks to the step BEFORE calling
    * with `step > 1`; with the default `step = 1` every integer tick
    * is on the grid).
    *
    * Scale shape: the spine is |keys| aggregate rows exploded to grid
    * size — it never re-scans the data; the join and the LOCF window
    * both hash on the key, so the whole fill is key-local (one shuffle
    * family, no global order). Grid volume is (span/step) per key —
    * the caller controls density by bucketing ticks first.
    */
  def gapFill(
      df: DataFrame,
      keyCols: Seq[String],
      tickCol: String,
      step: Long,
      locf: Seq[String] = Nil,
      defaults: Map[String, Column] = Map.empty,
      gapCol: String = "is_gap"): DataFrame = {
    require(keyCols.nonEmpty, "gapFill: keyCols must be non-empty")
    require(step > 0, s"gapFill: step must be > 0, got $step")
    val spine = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(tickCol)).as("_lo"), max(col(tickCol)).as("_hi"))
      .select(keyCols.map(col) :+
        explode(sequence(col("_lo"), col("_hi"), lit(step))).as(tickCol): _*)
    val src = df.withColumn("_present", lit(1))
    val joined = spine.join(src, keyCols :+ tickCol, "left")
      .withColumn(gapCol, col("_present").isNull)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tickCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = locf.foldLeft(joined)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    defaults.foldLeft(filled) { case (d, (c, dflt)) =>
      d.withColumn(c, coalesce(col(c), dflt))
    }.drop("_present")
  }

  /** [[gapFill]]'s linear-interpolation sibling: missing ticks get the
    * straight line between their nearest present neighbors instead of
    * a carried-forward value — the right fill for continuously-varying
    * series (sensor readings, prices) where LOCF draws staircases.
    *
    * `valueCol` must be integral (cents, ppm — the house fixed-point
    * convention); the interpolated value is
    * prev + (next−prev)·(t−t_prev) div (t_next−t_prev) with the
    * division TRUNCATING toward zero — i.e. rounding the delta toward
    * the previous anchor — which is exactly what both Spark `div` and
    * DuckDB `//` do on integers (verified: −7//2 = −3 in DuckDB), so
    * downward slopes agree bit-for-bit. Leading/trailing gaps have no
    * second anchor and stay NULL. Windows partition per key — bounded
    * by each key's tick span, never global.
    */
  def gapFillInterp(df: DataFrame, keyCols: Seq[String], tickCol: String,
      step: Long, valueCol: String, outCol: String = "value_interp",
      gapCol: String = "is_gap"): DataFrame = {
    require(keyCols.nonEmpty, "gapFillInterp: keyCols must be non-empty")
    require(step > 0, s"gapFillInterp: step must be > 0, got $step")
    val spine = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(tickCol)).as("_lo"), max(col(tickCol)).as("_hi"))
      .select(keyCols.map(col) :+
        explode(sequence(col("_lo"), col("_hi"), lit(step))).as(tickCol): _*)
    val joined = spine
      .join(df.select((keyCols :+ tickCol).map(col) :+
        col(valueCol).cast("long").as("_v"): _*), keyCols :+ tickCol, "left")
      .withColumn(gapCol, col("_v").isNull)
    val asc = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tickCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tickCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tickIfKnown = when(col("_v").isNotNull, col(tickCol))
    joined
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(asc))
      .withColumn("_pt", last(tickIfKnown, ignoreNulls = true).over(asc))
      .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(desc))
      .withColumn("_nt", first(tickIfKnown, ignoreNulls = true).over(desc))
      .withColumn("_num", (col("_nv") - col("_pv")) * (col(tickCol) - col("_pt")))
      .withColumn("_den", col("_nt") - col("_pt"))
      .withColumn(outCol,
        when(col("_v").isNotNull, col("_v"))
          .when(col("_pv").isNotNull && col("_nv").isNotNull,
            col("_pv") + expr("_num div _den")))
      .select((keyCols :+ tickCol).map(col) :+ col(outCol) :+ col(gapCol): _*)
  }

  /** Equal-frequency (quantile) binning of a numeric column: compute
    * the exact interpolated percentile boundaries at `probs`, then
    * assign `bin = #{boundaries strictly below the value}` — the
    * feature-discretization step of classic ML prep (Spark ML's
    * QuantileDiscretizer, re-expressed relationally with the same
    * exact-percentile parity story as [[TrainingData.winsorize]]: the
    * sort-based exact percentile is the oracle-checked form; a 100 TB
    * run would swap `percentile` for `percentile_approx` unchanged).
    *
    * One aggregate produces the 1-row boundary vector, broadcast back
    * onto the stream; bin assignment is a codegen'd comparison chain —
    * no shuffle of the data itself.
    */
  def quantileBins(
      df: DataFrame,
      valueCol: Column,
      probs: Seq[Double],
      binCol: String = "bin"): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"quantileBins: probs must be in [0,1], got $probs")
    require(probs == probs.sorted && probs.distinct.size == probs.size,
      s"quantileBins: probs must be strictly increasing, got $probs")
    val qs = (0 until probs.size).map(i =>
      percentile(valueCol, lit(probs(i))).as(s"_q$i"))
    val bounds = df.agg(qs.head, qs.tail: _*)
    val bin = (0 until probs.size)
      .map(i => (valueCol > col(s"_q$i")).cast("long"))
      .reduce(_ + _)
    df.crossJoin(broadcast(bounds))
      .withColumn(binCol, when(valueCol.isNull, lit(null).cast("long")).otherwise(bin))
      .drop((0 until probs.size).map(i => s"_q$i"): _*)
  }

  /** Distributed GLOBAL running totals — the prefix-sum primitive a
    * single-partition `Window.orderBy(...)` fakes on small data and
    * destroys clusters with on big data. Range-partition + local sort
    * gives the global order; per-partition totals (|partitions| longs
    * through the driver) become start offsets; one narrow
    * mapPartitions emits each row's inclusive running total. It is the
    * one ordered scan in the engine: [[globalIndex]],
    * `TrainingData.budgetSelect` and the CDF/quantile shapes all reduce
    * to it.
    *
    * `orderBy` must be a total order or tied rows' cumulative values
    * are shuffle-dependent. Nulls in `sumCol` add zero. Adds `cumCol`
    * (inclusive prefix sum, long).
    */
  def prefixSum(df: DataFrame, orderBy: Seq[Column], sumCol: Column,
      cumCol: String = "cum"): DataFrame =
    prefixSums(df, orderBy, Seq(sumCol -> cumCol))

  /** Plan-stats size estimate at or under which [[prefixSums]] sorts
    * in one partition: 128 MB of ESTIMATED bytes (Catalyst stats
    * over-estimate 3-5x vs on-wire).
    */
  private val PrefixSumLocalBytes: Long = 128L * 1024 * 1024

  private val forcedRoute = new scala.util.DynamicVariable[Option[Boolean]](None)

  /** Test seam: every size-gated route BUILT inside `f` on this thread
    * takes its one-partition or driver-side local form if `local`, else
    * its distributed form, whatever the size estimate. It forces
    * [[prefixSums]] (including through [[globalIndex]] and
    * `budgetSelect`), `Dedup.prefixDups` and the greedy pickers
    * `TrainingData.kcenterSelect`/`mmrRerank`, so the path-equality
    * specs and the scale probe can pin a route.
    */
  private[graft] def withLocalRoute[A](local: Boolean)(f: => A): A =
    forcedRoute.withValue(Some(local))(f)

  /** The one local/distributed gate, unless [[withLocalRoute]] forces
    * the route (then `maxBytes` is not evaluated): local iff the
    * plan-stats size estimate is at or under `maxBytes` AND the optimized plan
    * contains no Generate. In size-only estimation
    * Filter/Join/Aggregate never under-state (filters pass the child
    * size through, joins multiply), but Generate (explode) scales only
    * by ROW WIDTH — blind to multiplicity — so it is the one node class
    * that systematically under-estimates, and a mis-estimated exploded
    * frame routed local would serialize onto a single task or the
    * driver (the silent scale cliff the r16 verdict flagged).
    * Compile-time only: the gate costs zero jobs (a caller's `maxBytes`
    * may run one).
    */
  private[graft] def routesLocal(df: DataFrame, maxBytes: => Long): Boolean =
    forcedRoute.value.getOrElse {
      val plan = df.queryExecution.optimizedPlan
      val hasGenerate = plan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate])
      !hasGenerate && plan.stats.sizeInBytes <= maxBytes
    }

  /** The gate of [[prefixSums]] and `Dedup.prefixDups`: [[routesLocal]]
    * at `PrefixSumLocalBytes`, split out so the path-equality spec can
    * pin the decision itself.
    */
  private[graft] def prefixSumRoutesLocal(projected: DataFrame): Boolean =
    routesLocal(projected, PrefixSumLocalBytes)

  /** Multi-column [[prefixSum]]: all running totals ride ONE range
    * sort and one narrow pass (a CDF comparison needs two cumulative
    * counts over the same order — sorting twice would double the
    * dominant cost).
    *
    * Row-reuse contract: the result is an internal-row pass
    * ([[org.apache.spark.sql.GraftBridge.mapPartitionsInternal]]) that
    * emits ONE reused `UnsafeRow` per partition, overwritten by every
    * `next()`. Spark's own operators copy what they keep, so any
    * DataFrame use is safe; code that reads the result's internal RDD
    * (`queryExecution.toRdd`) must `copy()` each row it retains. The
    * sorted input is persisted through `CacheRegistry`, so
    * `CacheRegistry.unpersistAll` releases it.
    */
  def prefixSums(df: DataFrame, orderBy: Seq[Column],
      sums: Seq[(Column, String)]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(orderBy.nonEmpty, "prefixSums: orderBy must be non-empty")
    require(sums.nonEmpty, "prefixSums: need at least one sum column")
    val tmp = sums.indices.map(i => s"_ps$i")
    val projected = sums.zip(tmp).foldLeft(df) { case (acc, ((c, _), t)) =>
      acc.withColumn(t, c.cast("long"))
    }
    // SIZE-ADAPTIVE layout (derive partitioning from input size, never
    // a constant): below `PrefixSumLocalBytes` (plan-stats estimate —
    // compile-time, no job; 128 MB of ESTIMATED bytes) the
    // global sort runs in ONE round-robin partition — no range-sampling
    // job, no per-partition totals collect; the offsets are
    // trivially zero and the same narrow pass below emits the running
    // totals. The broadcast-threshold argument: a one-task sort of tens
    // of real MB beats a range-sampled distributed sort at ANY cluster
    // size, and anything that matters at scale estimates far past the
    // threshold and lands on the range-partitioned path unchanged. (A
    // global-window formulation would be fewer moving parts still, but
    // the repo-wide plan lint rightly rejects empty-partition Windows —
    // this form keeps the lint's guarantee intact.) The gate lives in
    // [[routesLocal]] (with its Generate mis-estimate guard) so the
    // path-equality spec can pin the routing decision directly.
    val local = prefixSumRoutesLocal(projected)
    // both paths persist the sorted frame: callers fan the cum frame
    // into several readouts, and the RDD bridge below does not
    // canonicalize, so without the cache every consumer would re-run
    // the sort + scan pass (measured: job count doubled on the gains/
    // lorenz shapes when the local path skipped the persist)
    val sorted = CacheRegistry.persist(
      if (local) projected.repartition(1).sortWithinPartitions(orderBy: _*)
      else projected.repartitionByRange(orderBy: _*)
        .sortWithinPartitions(orderBy: _*))
    val zero = Array.fill(tmp.size)(0L)
    val offsets: IndexedSeq[Array[Long]] = if (local) IndexedSeq(zero) else {
      // bounded driver state: |partitions| × |sums| longs
      val totals = sorted
        .groupBy(spark_partition_id().as("_pid"))
        .agg(coalesce(sum(col(tmp.head)), lit(0L)).as(s"_t0"),
          tmp.tail.zipWithIndex.map { case (t, i) =>
            coalesce(sum(col(t)), lit(0L)).as(s"_t${i + 1}")
          }: _*)
        // bounded: |partitions| x |sums| longs
        .collect().map(r => r.getInt(0) -> tmp.indices.map(i => r.getLong(i + 1)).toArray)
        .toMap
      val nPart = sorted.rdd.getNumPartitions
      (0 until nPart).scanLeft(zero) { (acc, p) =>
        val t = totals.getOrElse(p, zero)
        Array.tabulate(tmp.size)(i => acc(i) + t(i))
      }
    }
    val psIdx = tmp.map(sorted.schema.fieldIndex).toArray
    val keep = sorted.schema.fields.indices.filterNot(psIdx.contains).toArray
    val keepTypes = keep.map(sorted.schema.fields(_).dataType)
    val schema = StructType(
      keep.map(sorted.schema.fields) ++
        sums.map { case (_, n) => StructField(n, LongType, nullable = false) })
    val nKeep = keep.length
    // Narrow emit pass in Spark's INTERNAL row format: the previous
    // `sorted.rdd` / `createDataFrame(Row)` round trip boxed every
    // field of every row twice (InternalRow→Row out, Row→InternalRow
    // back through the encoder) and allocated a Seq per row — on the
    // primitive behind ~50 call sites, the largest interpreted/boxing
    // surface left in the hot path. The UnsafeProjection copies each
    // field into its own buffer at projection time (reused between
    // rows, per the scan-row contract), so input-row reuse by the
    // cached scan is safe.
    org.apache.spark.sql.GraftBridge.mapPartitionsInternal(sorted, schema) { (pid, it) =>
      val acc = offsets(pid).clone()
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema.fields.map(_.dataType))
      val buf = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(schema.length)
      it.map { r =>
        var i = 0
        while (i < psIdx.length) {
          acc(i) += (if (r.isNullAt(psIdx(i))) 0L else r.getLong(psIdx(i)))
          i += 1
        }
        var j = 0
        while (j < nKeep) {
          buf.update(j, if (r.isNullAt(keep(j))) null else r.get(keep(j), keepTypes(j)))
          j += 1
        }
        var m = 0
        while (m < acc.length) { buf.update(nKeep + m, acc(m)); m += 1 }
        proj(buf)
      }
    }
  }

  /** CDC MERGE: apply a changelog of keyed upserts/deletes onto a base
    * table, latest-wins — the lakehouse `MERGE INTO` / Debezium-apply
    * shape a daily ingestion pipeline runs against every managed table.
    *
    * `changes` carries (key, sequence, op ∈ {I,U,D}, payload columns
    * named like `base`'s). Per key the highest-`seq` change wins
    * (`seqCol` must totally order each key's changes — a commit LSN);
    * a winning D drops the key, a winning I/U replaces the row.
    * Base keys without changes pass through untouched.
    *
    * Scale shape: the changelog (normally ≪ base — a day's deltas vs
    * a standing corpus) is reduced FIRST to one winner per key (one
    * shuffle of the changelog only), then the base anti-joins the
    * winner keyset and the surviving upserts union in — the standing
    * table is never shuffled, only scanned, the same incremental
    * contract as `Dedup.dedupIncremental`. With a small changelog both
    * joins broadcast (AQE); the base-side work is a scan + filter.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      seqCol: Column, opCol: Column): DataFrame = {
    val dataCols = base.columns
    require(keyCols.forall(dataCols.contains),
      s"applyChangelog: key columns ${keyCols.mkString(",")} must exist in base")
    val winner = topKPerGroup(
        changes.select((dataCols.map(col) :+ seqCol.as("_seq")) :+ opCol.as("_op"): _*),
        keyCols.map(col), Seq(col("_seq").desc), 1)
      .drop("rank")
    val untouched = base.join(winner.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    val upserts = winner.where(col("_op") =!= "D")
      .select(dataCols.map(col): _*)
    untouched.unionByName(upserts)
  }

  /** Burst compaction (debounce) — collapse rapid-fire repeats per key
    * into one row per burst: a burst BREAKS where the gap to the
    * previous event exceeds `gapUs` (the session-window rule applied
    * to dedup: retry storms, double-clicks, sensor chatter → one
    * logical event each). Returns one row per burst: (key, burst_id,
    * first_ts_us, last_ts_us, n_events) — the compacted stream plus
    * how much was collapsed.
    *
    * One lag window per key (hash exchange, no global sort): the
    * gap-break flags prefix-sum into burst ids WITHIN the same
    * window pass, then one hash-agg per (key, burst). Exact integer
    * microseconds; `tieCols` must complete a per-key total order or
    * equal-timestamp rows get shuffle-dependent burst boundaries.
    */
  def debounce(df: DataFrame, keyCol: Column, tsCol: Column,
      tieCols: Seq[Column], gapUs: Long): DataFrame = {
    require(gapUs >= 1, s"debounce: gapUs must be >= 1, got $gapUs")
    val tieNames = tieCols.indices.map(i => s"_t$i")
    val sel = Seq(keyCol.as("_k"), unix_micros(tsCol).as("_us")) ++
      tieCols.zip(tieNames).map { case (c, n) => c.as(n) }
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_us").asc +: tieNames.map(col(_).asc): _*)
    df.select(sel: _*)
      .where(col("_us").isNotNull)
      .withColumn("_brk",
        when(lag(col("_us"), 1).over(w).isNull ||
          col("_us") - lag(col("_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("burst_id", sum(col("_brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_k").as("key"), col("burst_id"))
      .agg(min(col("_us")).as("first_ts_us"), max(col("_us")).as("last_ts_us"),
        count(lit(1)).as("n_events"))
  }

  /** Gaps-and-islands: collapse each key's distinct integer positions
    * (epoch days, sequence numbers) into maximal consecutive runs.
    * The classic `pos - row_number()` anchor trick — positions in one
    * unbroken run share an anchor, so one per-key window plus one
    * group-by yields every island with its bounds and length.
    *
    * Scale: the window partitions BY KEY (never global), and it runs
    * over the DISTINCT (key, pos) frame — bounded by positions per key
    * (for epoch days, ≤ the calendar span), not by raw row count. The
    * 100 TB shape is: dedup shuffle → per-key sort → fold; no step
    * sees unbounded state.
    */
  def islands(df: DataFrame, keyCol: Column, posCol: Column): DataFrame = {
    val pts = df.select(keyCol.as("_k"), posCol.cast("long").as("_p"))
      .where(col("_p").isNotNull).distinct()
    val w = Window.partitionBy(col("_k")).orderBy(col("_p").asc)
    pts.withColumn("_anchor", col("_p") - row_number().over(w))
      .groupBy(col("_k").as("key"), col("_anchor"))
      .agg(min(col("_p")).as("start_pos"), max(col("_p")).as("end_pos"),
        count(lit(1)).as("n_steps"))
      .drop("_anchor")
  }

  /** Deterministic per-key mode: the most frequent value, ties broken
    * by the smallest value. One count aggregate, then a `min(struct)`
    * argmin over (-count, value) — NO window, NO second shuffle of raw
    * rows: both aggregations are map-side-combinable and the second
    * runs over the (key, value) count frame, bounded by distinct pairs.
    */
  def modePerKey(df: DataFrame, keyCol: Column, valCol: Column): DataFrame =
    df.select(keyCol.as("_k"), valCol.as("_v"))
      .where(col("_v").isNotNull)
      .groupBy(col("_k"), col("_v")).agg(count(lit(1)).as("_n"))
      .groupBy(col("_k").as("key"))
      .agg(min(struct((-col("_n")).as("_neg"), col("_v"))).as("_top"))
      .select(col("key"), col("_top._v").as("mode"),
        (-col("_top._neg")).as("n"))

  /** 2-D Pareto frontier (skyline), both dimensions MAXIMIZED — the
    * multi-objective "best trade-offs" operator ("biggest AND most
    * expensive part", "highest quality AND longest doc"): a row is on
    * the frontier iff no other row is ≥ on both axes and > on at
    * least one. For two dimensions the skyline collapses onto the
    * per-x maxima staircase: keep (x, ymax(x)) cells whose ymax
    * strictly exceeds every ymax at larger x.
    *
    * Scale contract: the row-scale input reduces by ONE (x, y)
    * hash-aggregate; the staircase test is a self-join on the per-x
    * frame — |distinct x|² pair work, the [[graft.operators
    * .Analytics.kendallTauB]] bounded-domain contract (bucket a
    * continuous x first). Everything is exact integer comparison —
    * no window, no sort, no floats. Output one row per frontier
    * step: (x, y, n_rows) with n_rows the count of input rows
    * SITTING ON the step cell.
    */
  def paretoFrontier2d(df: DataFrame, xCol: Column,
      yCol: Column): DataFrame = {
    val xy = CacheRegistry.persist(
      df.where(xCol.isNotNull && yCol.isNotNull)
        .groupBy(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
        .agg(count(lit(1)).as("_n")))
    val ym = xy.groupBy(col("_x")).agg(max(col("_y")).as("_ym"))
    val dominated = ym.as("a").join(ym.as("b"),
      col("b._x") > col("a._x") && col("b._ym") >= col("a._ym"),
      "left_semi")
    val frontier = ym.join(dominated, Seq("_x"), "left_anti")
    frontier.join(xy,
        frontier("_x") === xy("_x") && frontier("_ym") === xy("_y"))
      .select(frontier("_x").as("x"), col("_ym").as("y"),
        col("_n").as("n_rows"))
  }
}
