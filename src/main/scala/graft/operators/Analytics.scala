package graft.operators

import scala.reflect.runtime.universe.TypeTag

import graft.core.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Event-sequence analytics over a clickstream-shaped table: ordered
  * funnels and cohort retention. (North-star extensions beyond the
  * reference — the event-time/stateful half of what its parcels CEP
  * example gestures at, generalized to arbitrary step sequences.)
  *
  * Scale design notes:
  *  - [[funnel]] is ONE shuffle on the user key; events arrive at the
  *    fold already secondary-sorted by the shuffle machinery
  *    (`flatMapSortedGroups`), so per-group state is O(1) — a step
  *    index and two timestamps — never a buffered event list. At 100
  *    TB the plan is a single exchange whose value payload is three
  *    narrow columns, not the raw rows.
  *  - [[cohortRetention]] aggregates per-user firsts (output rows =
  *    |users|, small next to |events| but corpus-bound) and joins them
  *    back on the same user key the aggregate already partitioned by —
  *    AQE broadcasts when the frame is genuinely small; the final
  *    (cohort, offset) aggregate's key space is weeks².
  */
object Analytics {

  // Public: Catalyst's generated serializers must reach these.
  case class FunnelRow(user_id: Long, steps_done: Int,
      t0_us: java.lang.Long, t_end_us: java.lang.Long)
  case class KeyedFunnelRow(key: String, steps_done: Int,
      t0_us: java.lang.Long, t_end_us: java.lang.Long)

  /** Ordered strict funnel: for each user, greedily match `steps` in
    * event-time order — step 0 anchors at the user's EARLIEST event of
    * that type, and each later step matches the earliest event of its
    * type with a STRICTLY larger timestamp than the previous matched
    * step (ties can never double-count one instant).
    *
    * Greedy-from-earliest is exactly the cascaded
    * `min(ts) WHERE ts > prev` SQL form (the DuckDB oracle), and for
    * unwindowed funnels greedy is complete: if any in-order assignment
    * exists, the greedy one does too. With `maxSpanUs` set, later steps
    * must also fall within that many microseconds of the step-0 anchor;
    * the anchor stays the EARLIEST step-0 event by definition (a
    * later anchor might complete where the earliest cannot — windowed
    * funnel semantics are anchor-greedy, matching the SQL cascade,
    * not best-possible-completion).
    *
    * Returns one row per user: `user_id`, `steps_done` (0..n),
    * `t0_us` / `t_end_us` (anchor and last-matched event times,
    * microseconds; null when no step matched).
    */
  def funnel(df: DataFrame, user: Column, ts: Column, eventType: Column,
      steps: Seq[String], maxSpanUs: Long = Long.MaxValue): DataFrame =
    funnelFold[Long, FunnelRow]("funnel", df, user, "long", ts, eventType,
      steps, maxSpanUs)(FunnelRow)

  /** [[funnel]] for NON-NUMERIC or composite keys: the fold is keyed by
    * an arbitrary string (`concat(user, '#', session_id)` gives a
    * sessionized funnel for free). Same semantics, same single-shuffle
    * sorted-group plan; output column is `key`.
    */
  def funnelBy(df: DataFrame, key: Column, ts: Column, eventType: Column,
      steps: Seq[String], maxSpanUs: Long = Long.MaxValue): DataFrame =
    funnelFold[String, KeyedFunnelRow]("funnelBy", df, key, "string", ts,
      eventType, steps, maxSpanUs)(KeyedFunnelRow)

  /** The funnel's match step, shared by [[funnel]], [[funnelBy]] and
    * `graft.streaming.StreamFunnel`: does an event of type `et` at
    * `tsUs` match the next step of a key that has matched `done` of
    * `steps`, anchored at `t0Us` and last matched at `tLastUs`? Step 0
    * matches on type alone; a later step needs a STRICTLY later
    * timestamp and, under `maxSpanUs`, one within that span of the
    * anchor.
    */
  private[graft] def funnelStepMatches(steps: Array[String], maxSpanUs: Long,
      done: Int, t0Us: Long, tLastUs: Long, et: String, tsUs: Long): Boolean =
    done < steps.length && et == steps(done) &&
      (done == 0 || (tsUs > tLastUs &&
        (maxSpanUs == Long.MaxValue || tsUs - t0Us <= maxSpanUs)))

  /** The keyed fold behind [[funnel]] and [[funnelBy]]: ONE shuffle on
    * the key (cast to `keyType`), the events secondary-sorted by time
    * inside it and matched greedily through [[funnelStepMatches]] with
    * O(1) state per key. `row` builds the key's output row from (key,
    * steps done, anchor µs, last-matched µs); both times are null when
    * no step matched.
    */
  private def funnelFold[K: TypeTag, R <: Product : TypeTag](
      name: String, df: DataFrame, key: Column, keyType: String, ts: Column,
      eventType: Column, steps: Seq[String], maxSpanUs: Long)(
      row: (K, Int, java.lang.Long, java.lang.Long) => R): DataFrame = {
    require(steps.nonEmpty, s"$name: steps must be non-empty")
    require(maxSpanUs > 0L, s"$name: maxSpanUs must be positive, got $maxSpanUs")
    import df.sparkSession.implicits._
    val stepArr = steps.toArray
    df.select(key.cast(keyType).as("k"), unix_micros(ts.cast("timestamp")).as("tsUs"),
        eventType.cast("string").as("et"))
      // a null/uncastable key or timestamp can anchor no step — and
      // would crash the non-nullable event encoder outright
      .where(col("k").isNotNull && col("tsUs").isNotNull)
      .as[(K, Long, String)]
      .groupByKey(_._1)(ExpressionEncoder[K]())
      .flatMapSortedGroups($"tsUs") { (k: K, it: Iterator[(K, Long, String)]) =>
        var done = 0
        var t0 = -1L
        var tLast = -1L
        it.foreach { case (_, tsUs, et) =>
          if (funnelStepMatches(stepArr, maxSpanUs, done, t0, tLast, et, tsUs)) {
            if (done == 0) t0 = tsUs
            tLast = tsUs
            done += 1
          }
        }
        Iterator.single(row(k, done,
          if (done == 0) null else java.lang.Long.valueOf(t0),
          if (done == 0) null else java.lang.Long.valueOf(tLast)))
      }
      .toDF()
  }

  /** Weekly cohort retention: cohort = ISO week (Monday-truncated) of
    * each user's first event; for every (cohort week, whole-week
    * offset) cell, the count of distinct users active in that week.
    * Offsets are day-difference based (`days // 7`), so a user is
    * "week k" relative to their own first event, not a calendar grid.
    */
  def cohortRetention(df: DataFrame, user: Column, ts: Column): DataFrame = {
    val events = df.select(user.as("u"), ts.cast("timestamp").as("ts"))
    val firsts = events.groupBy(col("u")).agg(min(col("ts")).as("first_ts"))
    // no broadcast hint: |users| is corpus-bound, not constant-bound —
    // AQE broadcasts when firsts is actually small, and the fallback
    // sort-merge join reuses the groupBy's hash partitioning on u
    events
      .join(firsts, "u")
      .select(col("u"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        floor(datediff(col("ts").cast("date"), col("first_ts").cast("date")) / 7)
          .as("week_no"))
      .groupBy(col("cohort_week"), col("week_no"))
      .agg(countDistinct(col("u")).as("n_users"))
  }

  /** Grouped ordinary-least-squares trend fit — "is this source's
    * quality drifting?" per group, in one aggregation pass. `x` must
    * be integer-valued and `y` exact-decimal (cast upstream): the five
    * partial sums (Σx, Σy, Σxy, Σx², Σy²) then accumulate EXACTLY
    * (bigint/decimal, associative in any merge order), and the closed
    * forms evaluate in double from identical exact inputs on any
    * engine — so even the floating-point slope/intercept/r² are
    * deterministic and cross-engine hash-comparable:
    *
    * {{{ slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) }}}
    *
    * Degenerate groups (zero x-variance, or zero y-variance for r²)
    * yield null, never NaN/±Inf.
    *
    * Scale shape: one shuffle on the group key with map-side partial
    * aggregation — the shuffle carries six exact numbers per group per
    * partition, never rows; this is the textbook mergeable-statistics
    * layout (same family as [[graft.functions.TypedAggregators.moments]],
    * but exact and grouped).
    */
  def groupedLinearFit(
      df: DataFrame,
      groupBy: Seq[Column],
      x: Column,
      y: Column): DataFrame = {
    require(groupBy.nonEmpty, "groupedLinearFit: groupBy must be non-empty")
    val xl = x.cast("long")
    val agg = df.groupBy(groupBy: _*).agg(
      count(lit(1)).as("n"),
      sum(xl).as("_sx"),
      sum(y).as("_sy"),
      sum(xl * y).as("_sxy"),
      sum(xl * xl).as("_sxx"),
      sum(y * y).as("_syy"))
    val nD = col("n").cast("double")
    val sxD = col("_sx").cast("double"); val syD = col("_sy").cast("double")
    val sxyD = col("_sxy").cast("double"); val sxxD = col("_sxx").cast("double")
    val syyD = col("_syy").cast("double")
    val num = nD * sxyD - sxD * syD
    val denX = nD * sxxD - sxD * sxD
    val denY = nD * syyD - syD * syD
    val slope = when(denX === 0.0d, lit(null)).otherwise(num / denX)
    agg.select(
      groupBy.indices.map(i => col(agg.columns(i))) ++ Seq(
        col("n"),
        slope.as("slope"),
        when(denX === 0.0d, lit(null))
          .otherwise((syD - (num / denX) * sxD) / nD).as("intercept"),
        when(denX === 0.0d || denY === 0.0d, lit(null))
          .otherwise(num * num / (denX * denY)).as("r2")): _*)
  }

  /** Grouped pairwise Pearson correlation matrix over `metrics`
    * (name → column), long format: one row per group × unordered
    * metric pair. The inputs should be exact types (cast to decimal
    * upstream): all sums and pair-products then accumulate exactly,
    * and the closed form
    *
    * {{{ r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)) }}}
    *
    * uses only multiply/subtract/divide/sqrt — each correctly rounded
    * under IEEE-754 — so the double output is bit-identical on any
    * engine fed the same exact sums. Zero-variance metrics yield null.
    * Rows with a null in ANY metric are dropped (listwise deletion),
    * so every pair is computed over the same `n`.
    *
    * Scale shape: ONE shuffle on the group key with map-side partial
    * aggregation; the shuffle carries k + k·(k+1)/2 + 1 exact numbers
    * per group per partition (k metrics), never rows. The pair
    * explosion happens on the tiny aggregated frame.
    *
    * Integral fast path: metrics pre-scaled to INTEGRAL fixed-point
    * (e.g. cents as long) accumulate in plain 64-bit sums — codegen'd
    * long adds instead of 128-bit decimal accumulators, which is both
    * several× cheaper and far kinder under executor memory pressure.
    * 64-bit products can overflow once per-row-max·rows approaches
    * 2^63, so name every metric whose PRODUCTS could overflow at the
    * target scale in `wideProducts`: its product accumulators are
    * promoted to exact decimal(38,0) (each factor widened to
    * decimal(19,0) first, so the multiply itself cannot wrap). Plain
    * sums stay 64-bit — a per-row max of 10^7 tolerates ~10^11 rows.
    * The closed form is scale-invariant mathematically, and bit-exact
    * cross-engine as long as the oracle mirrors the same fixed-point
    * inputs and accumulator shapes.
    */
  def groupedCorrMatrix(
      df: DataFrame,
      groupBy: Seq[Column],
      metrics: Seq[(String, Column)],
      wideProducts: Set[String] = Set.empty): DataFrame = {
    require(groupBy.nonEmpty, "groupedCorrMatrix: groupBy must be non-empty")
    require(metrics.size >= 2, "groupedCorrMatrix: need at least 2 metrics")
    require(metrics.map(_._1).distinct.size == metrics.size,
      "groupedCorrMatrix: metric names must be distinct")
    require(wideProducts.subsetOf(metrics.map(_._1).toSet),
      "groupedCorrMatrix: wideProducts must name declared metrics")
    val k = metrics.size
    val base = df
      .select(groupBy ++ metrics.map { case (nm, c) => c.as(s"_m_$nm") }: _*)
      .na.drop(metrics.map { case (nm, _) => s"_m_$nm" })
    val integral = metrics.map { case (nm, _) =>
      base.schema(s"_m_$nm").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    def m(i: Int) = col(s"_m_${metrics(i)._1}")
    val sums = metrics.map { case (nm, _) => sum(col(s"_m_$nm")).as(s"_s_$nm") }
    val prods = for { i <- 0 until k; j <- i until k } yield {
      val wide = wideProducts.contains(metrics(i)._1) ||
        wideProducts.contains(metrics(j)._1)
      val p =
        if (integral(i) && integral(j) && wide)
          m(i).cast(DecimalType(19, 0)) * m(j).cast(DecimalType(19, 0))
        else m(i) * m(j)
      sum(p).as(s"_p_${i}_$j")
    }
    val gcols = base.columns.take(groupBy.size).map(col)
    val allAggs = count(lit(1)).as("n") +: (sums ++ prods)
    val agg = base.groupBy(gcols: _*).agg(allAggs.head, allAggs.tail: _*)
    val nD = col("n").cast("double")
    def sD(i: Int) = col(s"_s_${metrics(i)._1}").cast("double")
    def pD(i: Int, j: Int) = col(s"_p_${i}_$j").cast("double")
    val entries = for { i <- 0 until k; j <- (i + 1) until k } yield {
      val num = nD * pD(i, j) - sD(i) * sD(j)
      val vx = nD * pD(i, i) - sD(i) * sD(i)
      val vy = nD * pD(j, j) - sD(j) * sD(j)
      struct(
        lit(metrics(i)._1).as("col_x"),
        lit(metrics(j)._1).as("col_y"),
        when(vx <= 0.0d || vy <= 0.0d, lit(null).cast("double"))
          .otherwise(num / (sqrt(vx) * sqrt(vy))).as("corr"))
    }
    agg
      .select(gcols ++ Seq(col("n"), explode(array(entries: _*)).as("_e")): _*)
      .select(gcols ++ Seq(col("n"),
        col("_e.col_x").as("col_x"), col("_e.col_y").as("col_y"),
        col("_e.corr").as("corr")): _*)
  }

  /** Grouped equi-width histogram with DENSIFIED bins: per group, the
    * exact row count of every bin `[lo + i·width, lo + (i+1)·width)`
    * for `i ∈ [0, nbins)` — including empty bins, so downstream
    * plotting/drift comparison never has to re-align sparse bin sets.
    * Values outside `[lo, lo + nbins·width)` and nulls are excluded
    * (clip first — [[TrainingData.winsorize]] — to keep them).
    *
    * Bin assignment is exact decimal arithmetic (`(v − lo) div width`
    * on the unscaled values — no float boundary jitter), so counts are
    * cross-engine bit-exact.
    *
    * Scale shape: one hash aggregate keyed by (group, bin) — partial
    * map-side combine collapses the scan to ≤ |groups|·nbins rows
    * before the shuffle. The bin spine is `explode(sequence(...))`
    * over the DISTINCT groups (|groups|·nbins rows, corpus never
    * re-scanned) with the counts hash-left-joined on.
    *
    * Null group keys don't equi-join back onto the spine — their bins
    * surface zero-count. `coalesce` group keys to a sentinel first if
    * null is a real group.
    */
  def histogram(
      df: DataFrame,
      groupBy: Seq[Column],
      valueCol: Column,
      lo: BigDecimal,
      width: BigDecimal,
      nbins: Int): DataFrame = {
    require(nbins > 0, s"histogram: nbins must be > 0, got $nbins")
    require(width > 0, s"histogram: width must be > 0, got $width")
    // Unscaled-integer bin math: value·100 as bigint, truncating div —
    // decimal division itself would NOT be portable (DuckDB runs it in
    // double), bigint div is.
    val loI = (lo * 100).toBigIntExact
      .getOrElse(throw new IllegalArgumentException(s"histogram: lo $lo needs scale <= 2")).longValue
    val widthI = (width * 100).toBigIntExact
      .getOrElse(throw new IllegalArgumentException(s"histogram: width $width needs scale <= 2")).longValue
    val gnames = df.select(groupBy: _*).schema.fieldNames.toSeq
    require(gnames.distinct.size == gnames.size,
      s"histogram: groupBy column names must be distinct, got $gnames")
    val gcols = gnames.map(col)
    val v = valueCol.cast("decimal(18,2)")
    val binned = df
      .select(groupBy.zip(gnames).map { case (c, n) => c.as(n) } :+ v.as("_v"): _*)
      .select(gcols :+ (col("_v") * 100).cast("long").as("_vi"): _*)
      .where(col("_vi").isNotNull && col("_vi") >= loI &&
        col("_vi") < loI + widthI * nbins)
      .select(gcols :+ expr(s"(_vi - $loI) div $widthI").as("bin"): _*)
      .groupBy(gcols :+ col("bin"): _*)
      .agg(count(lit(1)).as("_cnt"))
    val spine = df.select(groupBy.zip(gnames).map { case (c, n) => c.as(n) }: _*)
      .distinct()
      .select(gcols :+ explode(sequence(lit(0L), lit(nbins - 1L))).as("bin"): _*)
    spine.join(binned, gnames :+ "bin", "left")
      .select(gcols ++ Seq(col("bin"),
        (lit(lo) + lit(width) * col("bin")).cast("decimal(18,2)").as("bin_lo"),
        coalesce(col("_cnt"), lit(0L)).as("cnt")): _*)
  }

  /** Top-k event-type PATHS: the most common length-`n` event
    * sequences across users (the "what do users actually do"
    * product-analytics primitive behind Sankey/path views). A path is
    * `n` consecutive event types in one user's event-time order;
    * `orderBy` must totalize ties (pass an event id).
    *
    * Scale shape: one shuffle on the user key; the n-gram forms with
    * `lead` windows inside each user partition (per-user state, no
    * cross-user order), and the final top-k is
    * TakeOrderedAndProject over the path counts — never a global
    * sort.
    */
  def topPaths(
      df: DataFrame,
      user: Column,
      orderBy: Seq[Column],
      eventType: Column,
      n: Int = 3,
      k: Int = 20,
      sep: String = ">"): DataFrame = {
    require(n >= 2, s"topPaths: n must be >= 2, got $n")
    require(k >= 1, s"topPaths: k must be >= 1, got $k")
    val w = Window.partitionBy(user).orderBy(orderBy: _*)
    val steps = (0 until n).map(i =>
      if (i == 0) eventType.as("_e0") else lead(eventType, i).over(w).as(s"_e$i"))
    df.select(steps: _*)
      .where((0 until n).map(i => col(s"_e$i").isNotNull).reduce(_ && _))
      .select(concat_ws(sep, (0 until n).map(i => col(s"_e$i")): _*).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Per-group percentile rank (cume_dist): each row's value as a
    * fraction of its group at-or-below it — the scale-free way to
    * compare a quality score ACROSS groups with different score
    * distributions (a 0.9-percentile doc is top-decile in its own
    * language/domain whatever the raw scale there). `percent_rank`
    * (rank−1)/(n−1) is emitted alongside; both are pure count ratios —
    * one IEEE division of exact integers, so cross-engine bit-exact,
    * and ties share a value by definition (no tiebreak needed for
    * determinism, peers are peers).
    *
    * Scale shape: one window shuffle on the group key; no joins, no
    * second pass. For a GLOBAL percentile over 100 TB (single
    * partition trap) switch to the [[graft.operators.Relational
    * .quantileBins]] broadcast shape instead.
    */
  def percentileRank(
      df: DataFrame,
      groupCols: Seq[Column],
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy(groupCols: _*).orderBy(valueCol)
    df.withColumn("pct_rank", cume_dist().over(w))
      .withColumn("pct_rank_excl", percent_rank().over(w))
  }

  /** Welch's two-sample t statistic per group — the A/B-test readout
    * (unequal variances, unequal sizes: the form real experiment
    * platforms use). One aggregation pass computes per-(group, arm)
    * exact bigint sums (n, Σx, Σx²) — the value column must be INTEGER
    * (pre-scale to cents, same contract as [[rollingZscore]]); the
    * statistic is then a fixed IEEE op shape over those sums:
    *
    * {{{ t = (S_a/n_a − S_b/n_b) / sqrt(v_a/n_a + v_b/n_b) }}}
    *
    * with v = (Q − S·S/n)/(n−1). Bigint→double casts are correctly
    * rounded on every engine, and every subsequent double op has one
    * shape, so the result is cross-engine bit-exact even where the
    * intermediate products are not exactly representable. Degenerate
    * groups (either arm with n < 2, or both variances zero) yield a
    * null t, decided before any division.
    *
    * Scale shape: one hash-aggregate on (group, arm) — map-side
    * partials collapse the stream, reduce state is 2 rows per group —
    * then a self-join of the two tiny arm slices on the group key
    * (AQE broadcasts). Rows whose arm is neither `armA` nor `armB`
    * are ignored, and a group missing either arm entirely drops out
    * (the inner join — there is no one-sample t to report). Output:
    * group cols, `n_a, n_b, mean_a, mean_b, t`.
    */
  def abTest(
      df: DataFrame,
      groupCols: Seq[Column],
      armCol: Column,
      valueCol: Column,
      armA: String,
      armB: String): DataFrame = {
    require(armA != armB, s"abTest: arms must differ, got '$armA' twice")
    val x = valueCol.cast("long")
    val agg = df
      .where(armCol.cast("string").isin(armA, armB) && x.isNotNull)
      .groupBy((groupCols :+ armCol.cast("string").as("_arm")): _*)
      .agg(count(lit(1)).as("_n"), sum(x).as("_s"), sum(x * x).as("_q"))
    val names = agg.columns.dropRight(4).toSeq // the group columns as named
    def arm(tag: String, a: String) = agg.where(col("_arm") === a)
      .select((names.map(col) :+ col("_n").as(s"n_$tag") :+
        col("_s").as(s"_s_$tag") :+ col("_q").as(s"_q_$tag")): _*)
    def mean(tag: String) =
      col(s"_s_$tag").cast("double") / col(s"n_$tag").cast("double")
    def variance(tag: String) =
      (col(s"_q_$tag").cast("double") -
        col(s"_s_$tag").cast("double") * col(s"_s_$tag").cast("double") /
          col(s"n_$tag").cast("double")) /
        (col(s"n_$tag") - 1).cast("double")
    def se(tag: String) = variance(tag) / col(s"n_$tag").cast("double")
    // zero variance is an integer fact: n·Q == S·S
    def zeroVar(tag: String) =
      col(s"n_$tag") * col(s"_q_$tag") === col(s"_s_$tag") * col(s"_s_$tag")
    arm("a", armA).join(arm("b", armB), names)
      .select((names.map(col) :+ col("n_a") :+ col("n_b") :+
        mean("a").as("mean_a") :+ mean("b").as("mean_b") :+
        when(col("n_a") >= 2 && col("n_b") >= 2 && !(zeroVar("a") && zeroVar("b")),
          (mean("a") - mean("b")) / sqrt(se("a") + se("b"))).as("t")): _*)
  }

  /** First-order Markov transition matrix over an event stream: for
    * every observed (from, to) consecutive state pair within a key,
    * its count and row-normalized probability — the session-modeling /
    * next-event-prediction primitive, the edge-weight companion of
    * [[topPaths]].
    *
    * One window shuffle on the key builds the lag pairs (`lead` over
    * the per-key order — which must be total, add a tiebreak), one
    * hash-aggregate counts them; the per-from totals join is a
    * broadcast of |states|² at most. p = n / total as one IEEE
    * division of exact counts. A null state acts as a sequence break:
    * both the pair into it and the pair out of it are dropped. Output:
    * `from_state, to_state, n, p`.
    */
  def transitionMatrix(
      df: DataFrame,
      keyCol: Column,
      orderBy: Seq[Column],
      stateCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderBy: _*)
    val pairs = df
      .select(stateCol.as("from_state"), lead(stateCol, 1).over(w).as("to_state"))
      .where(col("from_state").isNotNull && col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state")).agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_state")).agg(sum(col("n")).as("_tot"))
    pairs.join(broadcast(totals), Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n"),
        (col("n").cast("double") / col("_tot").cast("double")).as("p"))
  }

  /** Inter-arrival burstiness — Goh-Barabási B = (σ−μ)/(σ+μ) of the
    * gaps between a user's consecutive same-type events: −1 is
    * metronome-periodic (bot heartbeat), 0 memoryless Poisson, → 1
    * heavy-tailed human bursts. The event-TIMING complement of
    * [[circularStats]] (time-of-day shape) and the term-burstiness
    * family (which measures token clumping, not arrival clumping).
    *
    * Exactness: integer-second gaps off per-(user, type) lag windows
    * (bounded by a user's own events), pooled per type with exact
    * decimal Σg/Σg², and the n in σ = √(nΣg²−(Σg)²)/n cancels:
    *
    * {{{ B = (√(n·Σg² − (Σg)²) − Σg) / (√(n·Σg² − (Σg)²) + Σg) }}}
    *
    * — ONE IEEE shape off exact integers, rounded 6dp, null when no
    * gaps or all gaps zero (σ = μ = 0). Output per type:
    * (event_type, n_gaps, b).
    */
  def interarrivalBurstiness(df: DataFrame, userCol: Column,
      typeCol: Column, tsCol: Column, idCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val us = unix_micros(tsCol.cast("timestamp"))
    val w = Window.partitionBy(userCol, typeCol)
      .orderBy(us, idCol)
    val gaps = df.where(userCol.isNotNull && typeCol.isNotNull &&
        tsCol.isNotNull && idCol.isNotNull)
      .select(typeCol.as("_t"),
        (us - lag(us, 1).over(w)).as("_dus"))
      .where(col("_dus").isNotNull)
      .select(col("_t"), expr("_dus div 1000000").as("_g"))
    val m = gaps.groupBy(col("_t"))
      .agg(count(lit(1)).as("n_gaps"), sum(dec(col("_g"))).as("_sg"),
        sum(dec(col("_g")) * col("_g")).as("_sg2"))
    val disc = (dec(col("n_gaps")) * col("_sg2") - col("_sg") * col("_sg"))
      .cast("decimal(38,0)")
    m.withColumn("_root", sqrt(disc.cast("double")))
      .select(col("_t").as("event_type"), col("n_gaps"),
        when(col("_root") + col("_sg").cast("double") > 0.0d,
          round((col("_root") - col("_sg").cast("double")) /
            (col("_root") + col("_sg").cast("double")), 6)).as("b"))
  }

  /** Eventually-follows graph — the process-mining relation
    * [[transitionMatrix]] (DIRECT successions only) cannot see: for
    * each ordered state pair (a, b), among users who did both, how
    * often did SOME a precede SOME b? Detours hide direct a→b edges;
    * the eventually-follows support survives them — the standard
    * first artifact of process discovery ("checkout eventually
    * follows search 94% of the time, the reverse 3%").
    *
    * Exact and deterministic: per (user, state) FIRST and LAST
    * occurrence as lexicographic (timestamp, id) struct min/max (the
    * id breaks timestamp ties identically on every engine), a
    * follows b per user iff first(a) < last(b), support as one ppm
    * floor over users holding both states. Shape: one per-(user,
    * state) aggregate (≤ k rows per user), a per-user k² pair join,
    * one bounded (k²) closing aggregate. Output per ordered pair:
    * (a, b, n_both, n_follows, support_ppm).
    */
  def eventuallyFollows(df: DataFrame, userCol: Column, stateCol: Column,
      tsCol: Column, idCol: Column): DataFrame = {
    val us = unix_micros(tsCol.cast("timestamp"))
    val per = CacheRegistry.persist(
      df.where(userCol.isNotNull && stateCol.isNotNull &&
          tsCol.isNotNull && idCol.isNotNull)
        .groupBy(userCol.as("_u"), stateCol.as("_a"))
        .agg(min(struct(us.as("t"), idCol.as("i"))).as("_first"),
          max(struct(us.as("t"), idCol.as("i"))).as("_last")))
    val l = per.select(col("_u"), col("_a"), col("_first"))
    val r = per.select(col("_u"), col("_a").as("_b"),
      col("_last").as("_lastb"))
    l.join(r, Seq("_u"))
      .where(col("_a") =!= col("_b"))
      .groupBy(col("_a").as("a"), col("_b").as("b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("_first") < col("_lastb"), 1L).otherwise(0L))
          .as("n_follows"))
      .withColumn("support_ppm",
        expr("n_follows * 1000000 div n_both"))
      .orderBy(col("a"), col("b"))
  }

  /** Markov conditional entropy — how PREDICTABLE is the next state
    * given the current one? H(next|cur) = Σ (n_ft/N)·ln(n_f/n_ft)
    * over the [[transitionMatrix]] cells: 0 nats = deterministic
    * chain (bot-regular navigation, templated sessions), ln(k) =
    * uniform chaos. The sequence-level complement of plain state
    * entropy — two corpora with identical state HISTOGRAMS can sit at
    * opposite ends of this.
    *
    * Determinism: each cell's term is the integer round of
    * n_ft·ln(n_f/n_ft)·10⁶ — ln over an exact int64 ratio is the
    * only transcendental (the [[gTest]] discipline), the bigint term
    * sum is shuffle-order-proof, and the close is one floor-div by N.
    * Shape: the transition aggregate (states² cells), one broadcast
    * totals join, one closing row. Output:
    * (n_transitions, k_states, h_micros).
    */
  def markovEntropy(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      stateCol: Column): DataFrame = {
    val cells = transitionMatrix(df, keyCol, orderBy, stateCol)
      .select(col("from_state"), col("n"))
    val totals = cells.groupBy(col("from_state")).agg(sum(col("n")).as("_nf"))
    cells.join(broadcast(totals), Seq("from_state"))
      .select(col("n"),
        expr("""CAST(round(n * ln(CAST(_nf AS DOUBLE) / CAST(n AS DOUBLE))
          * 1000000) AS BIGINT)""").as("_t"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_transitions"),
        coalesce(sum(col("_t")), lit(0L)).as("_h"))
      .crossJoin(broadcast(
        totals.agg(count(lit(1)).as("k_states"))))
      .select(col("n_transitions"), col("k_states"),
        when(col("n_transitions") > 0L,
          expr("_h div n_transitions")).as("h_micros"))
  }

  /** Trailing-window z-score anomaly detection: for each row, how many
    * sample standard deviations its value sits from the mean of the
    * PRECEDING `window` rows of its key (the current row is excluded —
    * an anomaly must not dilute its own baseline). The monitoring
    * primitive for metric streams: flag a value against its own recent
    * history, per key, in one pass.
    *
    * Exactness discipline (the [[groupedLinearFit]] pattern): the
    * value column must be INTEGER (pre-scale currency/metrics to
    * cents/ticks — same contract as [[histogram]]), so the window
    * aggregates S = Σx and Q = Σx² are exact bigints, and the z-score
    * is one fixed IEEE op shape over exact ingredients:
    *
    * {{{ z = (n·x − S) / sqrt((n·Q − S²) · n / (n−1)) }}}
    *
    * — cross-engine bit-exact (sqrt and divide are IEEE-identical;
    * every input to the double stage is an exactly-representable
    * bigint). Degenerate windows are decided in INTEGER arithmetic:
    * fewer than `minPeriods` prior rows, or zero variance
    * (n·Q − S² == 0), yield a null z and `is_anomaly = false` — never
    * a float comparison against an epsilon.
    *
    * Scale shape: ONE shuffle on the key (every window aggregate
    * shares the same frame, so Catalyst fuses them into a single
    * Window node); state per row is three numbers. `orderBy` must be a
    * total order within each key (add a tiebreak column) or the
    * trailing frame itself is nondeterministic.
    */
  def rollingZscore(
      df: DataFrame,
      keyCols: Seq[Column],
      orderBy: Seq[Column],
      valueCol: Column,
      window: Int,
      minPeriods: Int = 5,
      threshold: Double = 3.0): DataFrame = {
    require(window >= 2, s"rollingZscore: window must be >= 2, got $window")
    require(minPeriods >= 2 && minPeriods <= window,
      s"rollingZscore: need 2 <= minPeriods <= window, got $minPeriods")
    require(threshold > 0, s"rollingZscore: threshold must be > 0, got $threshold")
    val w = Window.partitionBy(keyCols: _*).orderBy(orderBy: _*)
      .rowsBetween(-window, -1)
    val x = col("_x"); val n = col("_n"); val s = col("_s"); val q = col("_q")
    df.withColumn("_x", valueCol.cast("long"))
      // x² as a plain projected column BEFORE the window stage: a
      // composite expression inside a window aggregate forces Catalyst
      // to extract it into a second Window node; over attribute
      // references all three aggregates fuse into one (pinned in
      // PlanShapeSpec)
      .withColumn("_xx", x * x)
      .select(col("*"), count(x).over(w).as("_n"), sum(x).over(w).as("_s"),
        sum(col("_xx")).over(w).as("_q"))
      .withColumn("z",
        when(n >= minPeriods && (n * q - s * s) > 0,
          (n * x - s).cast("double") /
            sqrt((n * q - s * s).cast("double") * n.cast("double") /
              (n - 1).cast("double"))))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("_x", "_xx", "_n", "_s", "_q")
  }

  /** Per-key exponentially weighted moving average: the ordered
    * recurrence s_t = α·x_t + (1-α)·s_{t-1}, seeded s_1 = x_1. The
    * trend/level smoother every monitoring pipeline wants next to
    * [[rollingZscore]]'s fixed window — EWMA weights the whole history
    * with exponential decay instead of a hard cutoff.
    *
    * Deliberately the FOLD, not the closed form: s_t = α·Σ(1-α)^(t-j)
    * x_j as window arithmetic needs pow() terms that overflow/underflow
    * past ~1000 rows and rounds differently per grouping, while the
    * fold does one multiply-add per row in sequence order — the exact
    * IEEE operation chain a recursive-CTE oracle (or any reference
    * implementation) performs, so results are bit-reproducible
    * cross-engine. Scale shape: ONE shuffle on the key;
    * `flatMapSortedGroups` secondary-sorts inside that shuffle, so the
    * group streams through the fold in order without materializing on
    * the heap and per-key state is a single double — a hot key cannot
    * OOM the task, and 100 TB of events is still exactly one exchange
    * of narrow (key, id, value, order) rows.
    *
    * The step is [[Recurrences.ewma]], shared with the stream twin
    * `graft.streaming.StreamEwma`. Rows with a null key or a null id
    * are dropped (no sequence identity, nothing to emit); a null value
    * emits a null smoothed row and leaves the
    * accumulator untouched, so one missing reading neither poisons nor
    * resets the trend. Output: `id, key, ewma` (key/id cast to long,
    * value to double).
    */
  def ewma(
      df: DataFrame,
      key: Column,
      orderBy: Seq[Column],
      id: Column,
      value: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"ewma: need 0 < alpha <= 1, got $alpha")
    import df.sparkSession.implicits._
    keyedOrderedFold(df, key, orderBy, id, value) { k =>
      val st = Recurrences.EwmaState()
      (i, x, _) => (i, k, Recurrences.ewma(st, x, alpha))
    }.toDF("id", "key", "ewma")
  }

  /** One-sided (upper) CUSUM change detection per key — the classic
    * sequential drift alarm (Page '54): s_t = max(0, s_{t−1} + (x_t −
    * drift)) with an alarm once s_t exceeds `threshold`. Where
    * [[rollingZscore]] asks "is this point odd vs its window", CUSUM
    * accumulates SMALL persistent shifts that no single point reveals
    * — the metric-regression / data-drift tripwire shape.
    *
    * Same engine as [[ewma]]: one shuffle on the key, the fold runs
    * over shuffle-sorted rows (`flatMapSortedGroups`), O(1) state. The
    * step is [[Recurrences.cusum]], shared with the stream twin
    * `graft.streaming.StreamCusum`: its clamp is the explicit branch
    * the recursive-CTE oracle mirrors. Null-key and null-id rows drop;
    * null values emit a null cusum row and leave state untouched (the
    * ewma contract). Output:
    * id, key, cusum, alarm.
    */
  def cusum(
      df: DataFrame,
      key: Column,
      orderBy: Seq[Column],
      id: Column,
      value: Column,
      drift: Double,
      threshold: Double): DataFrame = {
    require(threshold > 0.0, s"cusum: threshold must be > 0, got $threshold")
    import df.sparkSession.implicits._
    keyedOrderedFold(df, key, orderBy, id, value) { k =>
      val st = Recurrences.CusumState()
      (i, x, _) =>
        val c = Recurrences.cusum(st, x, drift)
        (i, k, c, c.exists(_ > threshold))
    }.toDF("id", "key", "cusum", "alarm")
  }

  /** The sorted-group fold [[ewma]], [[cusum]], [[holt]] and
    * [[holtWinters]] share. Rows with a null key, a null id (the output
    * `id` is non-nullable, and such a row has no identity to emit) or a
    * null `pos`, when given, drop in one filter; the rest are projected to (key long, id long, value
    * double, pos int) and stream per key through one shuffle on the key
    * in `orderBy` order (`flatMapSortedGroups` secondary-sorts inside
    * that shuffle, so a hot key never buffers on the heap). `perKey`
    * runs once per key, allocating the key's accumulator, and returns
    * the function applied to each row's (id, value or None when null,
    * pos or 0 without `pos`).
    */
  private def keyedOrderedFold[T: Encoder](
      df: DataFrame,
      key: Column,
      orderBy: Seq[Column],
      id: Column,
      value: Column,
      pos: Option[Column] = None)(
      perKey: Long => (Long, Option[Double], Int) => T): Dataset[T] = {
    val ordCols = orderBy.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }
    val hasPos = pos.isDefined
    df.where(pos.foldLeft(key.isNotNull && id.isNotNull)(_ && _.isNotNull))
      .select(key.cast("long").as("_k") +: id.cast("long").as("_id") +:
        value.cast("double").as("_v") +:
        (pos.map(_.cast("int").as("_p")).toSeq ++ ordCols): _*)
      .groupByKey(_.getLong(0))(Encoders.scalaLong)
      .flatMapSortedGroups(orderBy.indices.map(i => col(s"_o$i")): _*) {
        (k: Long, rows: Iterator[Row]) =>
          val f = perKey(k)
          rows.map(r => f(r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (hasPos) r.getInt(3) else 0))
      }
  }

  /** The pooled per-value frame every two-sample CDF test here starts
    * from: one row per distinct non-null value `_v` of `valueCol`
    * (cast to long when `asLong`) among the rows of samples `a` and
    * `b`, with each sample's count there as `_ca` and `_cb`.
    */
  private def pooledCounts(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String, asLong: Boolean = false): DataFrame =
    df.where(groupCol.isin(a, b) && valueCol.isNotNull)
      .select((if (asLong) valueCol.cast("long") else valueCol).as("_v"),
        groupCol.as("_g"))
      .groupBy(col("_v"))
      .agg(
        sum(when(col("_g") === a, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_g") === b, 1L).otherwise(0L)).as("_cb"))

  /** EXACT two-sample Kolmogorov-Smirnov statistic — the continuous
    * distribution-drift test next to the chi-square one ([[graft
    * .operators.Quality]]'s drift monitor bins; KS needs no binning).
    *
    * D = max_v |F_a(v) − F_b(v)| is computed as INTEGER arithmetic:
    * per distinct value the side counts, then both cumulative counts
    * over ONE distributed range sort ([[Relational.prefixSums]] — no
    * single-partition window), and D's numerator
    * max |n_b·cumA − n_a·cumB| is exact in longs. One IEEE division
    * at the end. Returns one row: (n_a, n_b, ks_num, ks_denom, ks).
    */
  def ksTest(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val perValue = pooledCounts(df, groupCol, valueCol, a, b)
    val cums = Relational.prefixSums(perValue, Seq(col("_v")),
      Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"))
    val totals = perValue.agg(
      sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    cums.crossJoin(broadcast(totals))
      .select(
        abs(col("_nb") * col("_cumA") - col("_na") * col("_cumB")).as("_gap"),
        col("_na"), col("_nb"))
      .groupBy(col("_na").as("n_a"), col("_nb").as("n_b"))
      .agg(max(col("_gap")).as("ks_num"))
      .select(
        col("n_a"), col("n_b"), col("ks_num"),
        (col("n_a") * col("n_b")).as("ks_denom"),
        round(col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("ks"))
  }

  /** One-sample Kuiper uniformity over the 24-hour clock — the
    * distribution-shape complement of [[circularStats]]: Rayleigh
    * detects a UNIMODAL clump (its test statistic is literally the
    * resultant length), so a clean 12-hours-apart bimodal pattern
    * (cron running twice a day) sails through it with R̄ ≈ 0; Kuiper's
    * V = D⁺ + D⁻ against the uniform clock catches ANY departure and
    * is invariant to rotating the dial (no midnight artifact).
    *
    * Exact integers: hourly counts on the dense 0..23 grid, the step
    * CDF vs the uniform line compared at the interval ends where each
    * sup lives — D⁺ = max_h(24·cum_h − n·h), D⁻ = max_h(n·(h+1) −
    * 24·cum_h), both clamped at 0, over the common denominator 24n.
    * One (group, hour) aggregate, per-group windows over ≤ 24 rows.
    * Output per group: (group, n, v_num, v_denom, v).
    */
  def kuiperUniformHours(df: DataFrame, groupCol: Column,
      hourCol: Column): DataFrame = {
    val counts = df.where(groupCol.isNotNull && hourCol.isNotNull)
      .groupBy(groupCol.as("_g"), hourCol.cast("long").as("_h"))
      .agg(count(lit(1)).as("_c"))
    val groups = counts.select(col("_g")).distinct()
    val dense = groups
      .crossJoin(broadcast(
        counts.sparkSession.range(0, 24).select(col("id").as("_h"))))
      .join(counts, Seq("_g", "_h"), "left")
      .select(col("_g"), col("_h"), coalesce(col("_c"), lit(0L)).as("_c"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n",
        sum(col("_c")).over(Window.partitionBy(col("_g"))))
      .groupBy(col("_g"))
      .agg(first(col("_n")).as("n"),
        greatest(max(lit(24L) * col("_cum") - col("_n") * col("_h")),
          lit(0L)).as("_dp"),
        greatest(max(col("_n") * (col("_h") + 1L) - lit(24L) * col("_cum")),
          lit(0L)).as("_dm"))
      .select(col("_g").as("group"), col("n"),
        (col("_dp") + col("_dm")).as("v_num"),
        (lit(24L) * col("n")).as("v_denom"),
        when(col("n") > 0L,
          round((col("_dp") + col("_dm")).cast("double") /
            (lit(24L) * col("n")).cast("double"), 6)).as("v"))
  }

  /** Kuiper two-sample test — [[ksTest]]'s rotation-invariant sibling:
    * V = D⁺ + D⁻ sums the largest gap in EACH direction instead of
    * the single worst |gap|, which restores power at the
    * DISTRIBUTION TAILS and makes the statistic invariant to cyclic
    * shifts of the support — the right two-sample comparison for
    * anything that wraps (time-of-day, day-of-week, phase), pairing
    * with [[circularStats]]'s one-sample Rayleigh.
    *
    * Exact integers off the SAME pooled-CDF pass as KS: D⁺ =
    * max(n_b·C_a − n_a·C_b), D⁻ = max of the negation (each clamped
    * at 0 — one side can be empty of signed gaps), V_num = D⁺ + D⁻
    * over the common denominator n_a·n_b, plus one 6dp division.
    * Output one row: (n_a, n_b, v_num, v_denom, v).
    */
  def kuiperTest(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val perValue = pooledCounts(df, groupCol, valueCol, a, b)
    val cums = Relational.prefixSums(perValue, Seq(col("_v")),
      Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"))
    val totals = perValue.agg(
      sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    cums.crossJoin(broadcast(totals))
      .select(
        (col("_nb") * col("_cumA") - col("_na") * col("_cumB")).as("_s"),
        col("_na"), col("_nb"))
      .groupBy(col("_na").as("n_a"), col("_nb").as("n_b"))
      .agg(greatest(max(col("_s")), lit(0L)).as("_dp"),
        greatest(max(-col("_s")), lit(0L)).as("_dm"))
      .select(col("n_a"), col("n_b"),
        (col("_dp") + col("_dm")).as("v_num"),
        (col("n_a") * col("n_b")).as("v_denom"),
        round((col("_dp") + col("_dm")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("v"))
  }

  /** Two-sample 1-D Wasserstein distance (earth-mover / Kantorovich
    * W₁) — [[ksTest]] reports the WORST CDF gap; W₁ integrates ALL
    * of it: ∫|F_a − F_b| dv, the minimum mass·distance to morph one
    * empirical distribution into the other, in the VALUE's own units
    * (the drift magnitude [[Quality]]-style PSI buckets away).
    *
    * Exact integer core on the pooled (value, count_a, count_b)
    * frame: both cumulative counts ride ONE [[Relational.prefixSums]]
    * pass (with a distinct-value rank as a third running sum), the
    * piecewise-constant integrand |n_b·C_a(v) − n_a·C_b(v)| is
    * weighted by the gap to the NEXT support point via a hash
    * self-join on rank+1 (never a window), and w1_ppm is the single
    * 10⁶ div n_a·n_b floor on the decimal(38,0) term sum — the
    * numerator is non-negative, so Spark `div` IS the floor.
    *
    * Scale contract: row-scale groupBy + one range-sort prefix pass +
    * one hash join on a long key — no |support|² term, safe on
    * unbounded continuous domains (unlike the bounded-grid
    * [[cliffsDelta]]). w1_num is emitted as BIGINT: exact while
    * n_a·n_b·range < 2⁶³ per call — pre-bucket beyond that. Output
    * one row: (n_a, n_b, support, w1_num, w1_ppm); w1_ppm null when
    * either sample is empty.
    */
  def wasserstein1(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perValue = pooledCounts(df, groupCol, valueCol, a, b, asLong = true)
    val cums = CacheRegistry.persist(
      Relational.prefixSums(perValue, Seq(col("_v")),
        Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB", lit(1L) -> "_r")))
    val totals = perValue.agg(
      sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      count(lit(1)).as("support"))
    val nxt = cums.select((col("_r") - 1L).as("_rp"), col("_v").as("_vn"))
    // inner join: the last support point has no interval to its right
    val w1 = cums.join(nxt, col("_r") === col("_rp"))
      .crossJoin(broadcast(totals))
      .agg(coalesce(sum(
        abs(dec(col("n_b")) * col("_cumA") - dec(col("n_a")) * col("_cumB")) *
          (col("_vn") - col("_v"))), dec(lit(0L))).as("_w1n"))
    totals.crossJoin(broadcast(w1))
      .select(col("n_a"), col("n_b"), col("support"),
        col("_w1n").cast("long").as("w1_num"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          expr("""CAST(_w1n * 1000000
                 |  div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"""
            .stripMargin)).as("w1_ppm"))
  }

  /** Two-sample energy distance — the Székely-Rizzo statistic
    * E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|: zero iff the distributions
    * coincide, sensitive to EVERY distributional difference (scale
    * and shape, not just the location shifts [[wasserstein1]]
    * measures cheaply, nor only the CDF gaps [[ksTest]] bounds).
    * The statistic behind the energy goodness-of-fit family.
    *
    * Exact integer core on the SAME pooled prefix frame as
    * [[wasserstein1]]: each pairwise |·| sum collapses to interval
    * terms via ΣΣ|x−y| = Σ_v gap(v)·[C_a(n_b−C_b) + C_b(n_a−C_a)]
    * (within-sample sums analogously with 2·C(n−C)) — three
    * decimal(38,0) term sums off ONE pass, then the single
    * non-negative floor e_ppm = (2·AB·n_a·n_b − AA·n_b² − BB·n_a²)
    * ·10⁶ div (n_a²·n_b²) (non-negative by the energy inequality).
    *
    * Shape: one row-scale groupBy + one prefix pass + one rank hash
    * join — no pair explosion at any domain size. Exactness bound:
    * products stay inside decimal(38,0) while n²·range ≲ 10³²
    * per call. Output one row: (n_a, n_b, support, e_ppm); null when
    * either sample is empty.
    */
  def energyDistance(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perValue = pooledCounts(df, groupCol, valueCol, a, b, asLong = true)
    val cums = CacheRegistry.persist(
      Relational.prefixSums(perValue, Seq(col("_v")),
        Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB", lit(1L) -> "_r")))
    val totals = perValue.agg(
      sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      count(lit(1)).as("support"))
    val nxt = cums.select((col("_r") - 1L).as("_rp"), col("_v").as("_vn"))
    val gap = (col("_vn") - col("_v")).cast("decimal(38,0)")
    val sums = cums.join(nxt, col("_r") === col("_rp"))
      .crossJoin(broadcast(totals))
      .agg(
        coalesce(sum(gap * (dec(col("_cumA")) * (col("n_b") - col("_cumB")) +
          dec(col("_cumB")) * (col("n_a") - col("_cumA")))), dec(lit(0L)))
          .as("_ab"),
        coalesce(sum(gap * dec(lit(2L)) * col("_cumA") *
          (col("n_a") - col("_cumA"))), dec(lit(0L))).as("_aa"),
        coalesce(sum(gap * dec(lit(2L)) * col("_cumB") *
          (col("n_b") - col("_cumB"))), dec(lit(0L))).as("_bb"))
    totals.crossJoin(broadcast(sums))
      .select(col("n_a"), col("n_b"), col("support"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          expr("""CAST((2 * _ab * n_a * n_b - _aa * n_b * n_b
                 |    - _bb * n_a * n_a) * 1000000
                 |  div (CAST(n_a AS DECIMAL(38,0)) * n_a * n_b * n_b)
                 |  AS BIGINT)""".stripMargin)).as("e_ppm"))
  }

  /** p-chart — the Shewhart control chart for PROPORTIONS: each
    * period's success rate against the pooled rate's ±3σ binomial
    * limits UCL/LCL = p̄ ± 3·√(p̄(1−p̄)/n_t) (per-period n, so sparse
    * days get honestly wider limits). The SPC screen for conversion/
    * defect/acceptance-rate drift — [[cusum]] finds slow creep,
    * the p-chart flags the single broken day.
    *
    * Per-period counts are exact integers; p̄ and each limit are ONE
    * fixed IEEE shape over them (null-guarded denominators — the
    * ANSI+CSE discipline), rounded 6dp BEFORE the out-of-control
    * comparisons so the flags are comparator-proof. LCL clamps at 0.
    * Output one row per period, period-ordered: (period, n, r,
    * phat, lcl, ucl, out_low, out_high).
    *
    * Shape: one row-scale groupBy + a broadcast 1-row pooled frame.
    */
  def pChart(df: DataFrame, periodCol: Column, successCol: Column): DataFrame = {
    val perDay = df.where(periodCol.isNotNull && successCol.isNotNull)
      .groupBy(periodCol.as("period"))
      .agg(count(lit(1)).as("n"), sum(successCol.cast("long")).as("r"))
    val pooled = perDay.agg(
      coalesce(sum(col("n")), lit(0L)).as("_N"),
      coalesce(sum(col("r")), lit(0L)).as("_R"))
    val nD = when(col("_N") > 0L, col("_N").cast("double"))
    val ntD = when(col("n") > 0L, col("n").cast("double"))
    val pbar = col("_R").cast("double") / nD
    val se = sqrt(pbar * (lit(1.0d) - pbar) / ntD)
    val phat = round(col("r").cast("double") / ntD, 6)
    val ucl = round(pbar + lit(3.0d) * se, 6)
    val lcl = round(greatest(pbar - lit(3.0d) * se, lit(0.0d)), 6)
    perDay.crossJoin(broadcast(pooled))
      .select(col("period"), col("n"), col("r"),
        phat.as("phat"), lcl.as("lcl"), ucl.as("ucl"),
        (phat < lcl).as("out_low"), (phat > ucl).as("out_high"))
      .orderBy(col("period"))
  }

  /** Gini mean difference — the robust dispersion number E|X−X'|:
    * how far apart two randomly drawn values sit, in the value's own
    * units. Finite-sample breakdown is poorer than MAD's but its
    * efficiency under near-normal data is far higher (98% vs 37%),
    * and unlike the SD it doesn't square outliers into dominance —
    * the spread summary of choice for heavy-tailed amounts. The
    * relative form GMD/(2·mean) is exactly the Gini coefficient,
    * emitted alongside as a cross-check against the Lorenz-based
    * `q_gini`.
    *
    * Exact integers on the [[wasserstein1]] machinery with ONE
    * sample: ΣΣ|x−x'| = Σ_v gap(v)·2·C(v)·(n−C(v)) off one
    * [[Relational.prefixSums]] pass + the rank+1 hash join;
    * gmd_ppm = Σ·10⁶ div n(n−1) (the unbiased U-statistic) and
    * gini_ppm = Σ·10⁶ div 2n div Σx (the POPULATION Gini — the
    * [[gini]] convention, so the two queries cross-check; the nested
    * floors are exact by the floor-division identity). Gini needs
    * non-negative values; the GMD itself is sign-agnostic. Output
    * one row: (n, support, gmd_ppm, gini_ppm); null under 2 rows;
    * gini null when Σx ≤ 0.
    */
  def giniMeanDifference(df: DataFrame, valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perValue = df
      .where(valueCol.isNotNull)
      .select(valueCol.cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val cums = CacheRegistry.persist(
      Relational.prefixSums(perValue, Seq(col("_v")),
        Seq(col("_c") -> "_cum", lit(1L) -> "_r")))
    val totals = perValue.agg(
      coalesce(sum(col("_c")), lit(0L)).as("n"),
      coalesce(sum(dec(col("_v")) * col("_c")), dec(lit(0L))).as("_sx"),
      count(lit(1)).as("support"))
    val nxt = cums.select((col("_r") - 1L).as("_rp"), col("_v").as("_vn"))
    val aa = cums.join(nxt, col("_r") === col("_rp"))
      .crossJoin(broadcast(totals))
      .agg(coalesce(sum((col("_vn") - col("_v")).cast("decimal(38,0)") *
        lit(2L) * col("_cum") * (col("n") - col("_cum"))), dec(lit(0L)))
        .as("_aa"))
    totals.crossJoin(broadcast(aa))
      .select(col("n"), col("support"),
        when(col("n") >= 2L,
          expr("""CAST(_aa * 1000000
                 |  div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
            .stripMargin)).as("gmd_ppm"),
        when(col("n") >= 2L && col("_sx") > 0,
          expr("""CAST(_aa * 1000000
                 |  div (2 * CAST(n AS DECIMAL(38,0))) div _sx
                 |  AS BIGINT)""".stripMargin)).as("gini_ppm"))
  }

  /** Brunner-Munzel test — the modern replacement for Mann-Whitney
    * when the two samples may differ in SHAPE/variance (MW assumes
    * exchangeable-under-null; BM studentizes the relative effect
    * p = P(X<Y) + ½P(X=Y) with per-sample placement variances and a
    * Welch-type df, staying valid under heteroscedasticity and ties).
    *
    * Exact integer core on the SAME one-pass frame as [[ksTest]]:
    * both per-group cumulative counts ride one
    * [[Relational.prefixSums]] pass, and each value's DOUBLED
    * placement is pure counting — q2_a(v) = 2·#{b < v} + #{b = v} —
    * so the placement sums/squares, pooled doubled-rank sums, and
    * the exact relative effect p̂ = (R2_b − m(m+1))·10⁶ div (2mn)
    * (numerator non-negative: m(m+1) is the doubled-rank-sum floor)
    * are all decimal(38,0)-exact. The statistic and df are ONE fixed
    * IEEE shape each over those integers (the [[kruskalWallis]]-`h`
    * discipline), rounded 6dp:
    * w = n·m·(R̄_b − R̄_a) / (N·√(n·S_a² + m·S_b²)),
    * df = (n·S_a² + m·S_b²)² / ((n·S_a²)²/(n−1) + (m·S_b²)²/(m−1)).
    *
    * w/df null when either sample has < 2 values or the placement
    * variances BOTH vanish (complete separation or identical
    * constants — BM is genuinely undefined there; MW still works).
    * Output one row: (n_a, n_b, phat_ppm, w, df).
    *
    * Shape: row-scale groupBy + one range-sort prefix pass + one
    * summary aggregate — no windows, no pair term.
    */
  def brunnerMunzel(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perValue = pooledCounts(df, groupCol, valueCol, a, b, asLong = true)
    val cums = Relational.prefixSums(perValue, Seq(col("_v")),
      Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"))
    val q2a = lit(2L) * (col("_cumB") - col("_cb")) + col("_cb")
    val q2b = lit(2L) * (col("_cumA") - col("_ca")) + col("_ca")
    val mr2 = lit(2L) * (col("_cumA") + col("_cumB") - col("_ca") - col("_cb")) +
      col("_ca") + col("_cb") + 1L
    val agg = cums.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      coalesce(sum(dec(col("_ca")) * q2a), dec(lit(0L))).as("_bx"),
      coalesce(sum(dec(col("_ca")) * q2a * q2a), dec(lit(0L))).as("_ax"),
      coalesce(sum(dec(col("_cb")) * q2b), dec(lit(0L))).as("_by"),
      coalesce(sum(dec(col("_cb")) * q2b * q2b), dec(lit(0L))).as("_ay"),
      coalesce(sum(dec(col("_ca")) * mr2), dec(lit(0L))).as("_r2a"),
      coalesce(sum(dec(col("_cb")) * mr2), dec(lit(0L))).as("_r2b"))
    val nD = col("n_a").cast("double")
    val mD = col("n_b").cast("double")
    // ANSI + CSE evaluate shared divisions eagerly: null-guard the
    // DENOMINATORS (degenerate -> null propagates through every
    // dependent column) instead of relying on the when() branches
    val denX = when(col("n_a") >= 2L, lit(4.0d) * nD * (nD - 1.0d))
    val denY = when(col("n_b") >= 2L, lit(4.0d) * mD * (mD - 1.0d))
    val sx2 = (dec(col("n_a")) * col("_ax") - col("_bx") * col("_bx"))
      .cast("double") / denX
    val sy2 = (dec(col("n_b")) * col("_ay") - col("_by") * col("_by"))
      .cast("double") / denY
    val v = nD * sx2 + mD * sy2
    val gap = col("_r2b").cast("double") / when(mD > 0.0d, lit(2.0d) * mD) -
      col("_r2a").cast("double") / when(nD > 0.0d, lit(2.0d) * nD)
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        expr("""CAST((_r2b - CAST(n_b AS DECIMAL(38,0)) * (n_b + 1)) * 1000000
               |  div (2 * CAST(n_b AS DECIMAL(38,0)) * n_a) AS BIGINT)"""
          .stripMargin)).as("phat_ppm"),
      when(v > 0.0d, round(nD * mD * gap / ((nD + mD) * sqrt(v)), 6)).as("w"),
      when(v > 0.0d, round(v * v /
        ((nD * sx2) * (nD * sx2) / (nD - 1.0d) +
          (mD * sy2) * (mD * sy2) / (mD - 1.0d)), 6)).as("df"))
  }

  /** Cochran-Armitage trend test — "does the success rate TREND with
    * an ordered exposure" (dose, priority tier, bucket index): the
    * 2×k chi-square ([[Quality]]-style drift tables) only says the
    * rates differ somewhere; CA weights each column by its ordinal
    * score and tests the LINEAR trend with 1 df, which is the test
    * with power against exactly the monotone alternative.
    *
    * Exact integer form: with per-score (n_i, r_i) and weights w_i,
    * T·N = N·Σwᵢrᵢ − R·Σwᵢnᵢ and
    * z² = (T·N)²·N / (R(N−R)·[N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²]), emitted as the
    * ppm floor on decimal(38,0) products (the (TN)²·N product bounds
    * exactness to N ≲ 10⁹ rows per call at |w| ≤ 10³ — aggregate
    * upstream or rescale weights beyond that). The 3.84/6.63 (df=1)
    * fences are pre-compared like [[srmCheck]]. One k-bounded
    * aggregate after one row-scale groupBy on the score. Output:
    * (k, n, r, trend_num, z2_ppm, trend_95, trend_99); z2 null when
    * the variance degenerates (R = 0 or R = N or single score).
    */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
      successCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = df.where(scoreCol.isNotNull && successCol.isNotNull)
      .groupBy(scoreCol.cast("long").as("_w"))
      .agg(count(lit(1)).as("_n"), sum(successCol.cast("long")).as("_r"))
    g.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"), sum(col("_r")).as("r"),
        sum(col("_w") * col("_n")).as("_swn"),
        sum(col("_w") * col("_r")).as("_swr"),
        sum(col("_w") * col("_w") * col("_n")).as("_sw2n"))
      .withColumn("trend_num",
        (dec(col("n")) * col("_swr") - dec(col("r")) * col("_swn")).cast("long"))
      .withColumn("_vd",
        dec(col("r")) * (col("n") - col("r")) *
          (dec(col("n")) * col("_sw2n") - dec(col("_swn")) * col("_swn")))
      .withColumn("z2_ppm",
        when(col("_vd") > 0,
          expr("""CAST(trend_num AS DECIMAL(38,0)) * trend_num * n * 1000000
                  div _vd""").cast("long")))
      .select(col("k"), col("n"), col("r"), col("trend_num"), col("z2_ppm"),
        (col("z2_ppm") > 3841459L).as("trend_95"),
        (col("z2_ppm") > 6634897L).as("trend_99"))
  }

  /** Kendall tau-b rank correlation — the concordance coefficient
    * beside [[spearman]] (Spearman squares rank GAPS and is touchier
    * about outlying ranks; tau counts pair ORDER agreements and has
    * the cleaner interpretation "P(concordant) − P(discordant)"),
    * with the tau-b tie correction both the discrete columns here
    * need. [[mannKendall]] is this statistic against time; this is
    * the general two-variable form.
    *
    * Exact integer core on the JOINT (x, y, count) cell frame:
    * S = Σ_{ordered cell pairs} c_i·c_j·sgn(Δx)·sgn(Δy) / 2 (self and
    * tied pairs contribute 0), tie terms n₁/n₂ from the marginal
    * count frames, n₀ = n(n−1)/2 — all decimal(38,0)-exact; tau_b is
    * ONE IEEE sqrt/divide over those scalars, rounded 6dp.
    *
    * Scale contract: pair work is |cells|² — the [[tCloseness]]-style
    * bounded-grid shape. Use on BOUNDED domains (ordinal codes,
    * bucketed measures, counts); bucket continuous columns first.
    *
    * The whole CONCORDANCE FAMILY falls out of the same scalars, so
    * it ships as one row: Goodman-Kruskal γ = S/(C+D) (ties ignored
    * entirely — the ordinal-table classic) and Somers' D_yx =
    * S/(n₀−n₁) (ties penalized on the PREDICTOR side only — the
    * asymmetric "does x predict y" form, the statistic under the
    * rank-biserial/AUC family). Output one row: (n, s, n0, n1, n2,
    * tau_b, gamma, somers_d); each null when its denominator
    * degenerates.
    */
  def kendallTauB(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(xCol.isNotNull && yCol.isNotNull)
        .groupBy(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
        .agg(count(lit(1)).as("_c")))
    val a = cells.select(col("_x").as("_xa"), col("_y").as("_ya"), col("_c").as("_ca"))
    val b = cells.select(col("_x").as("_xb"), col("_y").as("_yb"), col("_c").as("_cb"))
    val s2 = a.crossJoin(b)
      .agg(
        sum(dec(col("_ca")) * col("_cb") *
          signum(col("_xa") - col("_xb")).cast("long") *
          signum(col("_ya") - col("_yb")).cast("long")).as("_s2"),
        // C + D (doubled): pairs where BOTH coordinates differ
        sum(dec(col("_ca")) * col("_cb") *
          abs(signum(col("_xa") - col("_xb")).cast("long") *
            signum(col("_ya") - col("_yb")).cast("long"))).as("_cd2"))
      .select(expr("_s2 div 2").cast("long").as("s"),
        expr("_cd2 div 2").cast("long").as("_cd"))
    val tx = cells.groupBy(col("_x")).agg(sum(col("_c")).as("_t"))
      .agg(sum(dec(col("_t")) * (col("_t") - 1L)).as("_n1x2"),
        sum(col("_t")).as("_n"))
      .select(col("_n"), expr("_n1x2 div 2").cast("long").as("n1"),
        (dec(col("_n")) * (col("_n") - 1L)).as("_n0x2"))
      .select(col("_n").as("n"), col("n1"),
        expr("_n0x2 div 2").cast("long").as("n0"))
    val ty = cells.groupBy(col("_y")).agg(sum(col("_c")).as("_t"))
      .agg(sum(dec(col("_t")) * (col("_t") - 1L)).as("_n2x2"))
      .select(expr("_n2x2 div 2").cast("long").as("n2"))
    tx.crossJoin(broadcast(ty)).crossJoin(broadcast(s2))
      .select(col("n"), col("s"), col("n0"), col("n1"), col("n2"),
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          round(col("s").cast("double") /
            (sqrt((col("n0") - col("n1")).cast("double")) *
              sqrt((col("n0") - col("n2")).cast("double"))), 6)).as("tau_b"),
        when(col("_cd") > 0L,
          round(col("s").cast("double") / col("_cd").cast("double"), 6))
          .as("gamma"),
        when(col("n0") > col("n1"),
          round(col("s").cast("double") /
            (col("n0") - col("n1")).cast("double"), 6)).as("somers_d"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test — what
    * [[kruskalWallis]] deliberately ignores: KW asks "do the k groups
    * differ AT ALL", JT asks "do they INCREASE in the stated group
    * order" (dose tiers, priority bands, cohort ages), summing the
    * pairwise Mann-Whitney counts over every ordered group pair.
    * Far more powerful than KW when the alternative really is
    * monotone.
    *
    * Exact integer core on the (group, value, count) cell frame —
    * the [[kendallTauB]] bounded-grid shape: the DOUBLED statistic
    * jt2 = Σ_{g<h} c_g·c_h·(2·[v_g<v_h] + [v_g=v_h]) (ties count
    * half, doubling keeps integers), null mean e2 = 2E =
    * (N² − Σn_g²)/2, and the classic no-tie variance D/72 with
    * D = N²(2N+3) − Σn_g²(2n_g+3) — ties only SHRINK the true
    * variance, so the reported z² is conservative. z2_ppm =
    * (jt2−e2)²·18·10⁶ div D, everything decimal(38,0)-exact until
    * that one floor.
    *
    * Scale contract: pair work is |cells|² — bucket continuous
    * values first (the gate buckets price to ~$10k cells). Output
    * one row: (k, n, jt2, e2, z2_ppm, trend_95, trend_99) with the
    * χ²₁ fences on z².
    */
  def jonckheereTerpstra(df: DataFrame, groupOrdCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(groupOrdCol.isNotNull && valueCol.isNotNull)
        .groupBy(groupOrdCol.cast("long").as("_g"),
          valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val a = cells.select(col("_g").as("_ga"), col("_v").as("_va"),
      col("_c").as("_ca"))
    val b = cells.select(col("_g").as("_gb"), col("_v").as("_vb"),
      col("_c").as("_cb"))
    val jt = a.crossJoin(b).where(col("_ga") < col("_gb"))
      .agg(coalesce(sum(dec(col("_ca")) * col("_cb") *
        (when(col("_va") < col("_vb"), 2L)
          .when(col("_va") === col("_vb"), 1L).otherwise(0L))),
        lit(0L).cast("decimal(38,0)")).as("_jt2"))
    val per = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))
      .agg(count(lit(1)).as("k"), sum(col("_n")).as("n"),
        sum(dec(col("_n")) * col("_n")).as("_sn2"),
        sum(dec(col("_n")) * col("_n") * (lit(2L) * col("_n") + 3L))
          .as("_sn23"))
    per.crossJoin(broadcast(jt))
      .withColumn("_e2",
        (dec(col("n")) * col("n") - col("_sn2")).cast("decimal(38,0)"))
      .withColumn("_D",
        dec(col("n")) * col("n") * (lit(2L) * col("n") + 3L) - col("_sn23"))
      .select(col("k"), col("n"), col("_jt2").cast("long").as("jt2"),
        expr("_e2 div 2").cast("long").as("e2"),
        when(col("_D") > 0,
          expr("""(_jt2 - _e2 div 2) * (_jt2 - _e2 div 2) *
                  18 * 1000000 div _D""").cast("long")).as("z2_ppm"))
      .select(col("k"), col("n"), col("jt2"), col("e2"), col("z2_ppm"),
        (col("z2_ppm") > 3841459L).as("trend_95"),
        (col("z2_ppm") > 6634897L).as("trend_99"))
  }

  /** Cohen's d / Hedges' g — the STANDARDIZED two-arm mean gap the
    * [[abTest]] significance readout deliberately omits: a t-test
    * says "unlikely under the null", d says "how big in
    * noise units" (0.2/0.5/0.8 small/medium/large), and g applies the
    * small-sample bias correction J = 1 − 3/(4(n−2)−1). Exact decimal
    * moments per arm (count/sum/sum-of-squares, map-combinable), one
    * fixed IEEE shape for the pooled SD and the two ratios, rounded
    * 6dp. Output one row: (n_a, n_b, d, g); null when either arm has
    * < 2 rows or the pooled variance is 0.
    */
  def cohensD(df: DataFrame, armCol: Column, valueCol: Column,
      armA: String, armB: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = valueCol.cast("long")
    val agg = df.where(armCol.cast("string").isin(armA, armB) && x.isNotNull)
      .groupBy((armCol.cast("string") === armA).as("_isA"))
      .agg(count(lit(1)).as("_n"), sum(dec(x)).as("_s"),
        sum(dec(x) * x).as("_q"))
    val a = agg.where(col("_isA"))
      .select(col("_n").as("n_a"), col("_s").as("_sa"), col("_q").as("_qa"))
    val b = agg.where(!col("_isA"))
      .select(col("_n").as("n_b"), col("_s").as("_sb"), col("_q").as("_qb"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    // (n−1)·s² = Σx² − (Σx)²/n, exact numerators over IEEE division
    val ssA = col("_qa").cast("double") -
      (col("_sa") * col("_sa")).cast("double") / naD
    val ssB = col("_qb").cast("double") -
      (col("_sb") * col("_sb")).cast("double") / nbD
    val sp = sqrt((ssA + ssB) / (naD + nbD - 2.0d))
    val dEff = (col("_sa").cast("double") / naD -
      col("_sb").cast("double") / nbD) / sp
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") >= 2L && col("n_b") >= 2L && ssA + ssB > 0.0d,
          round(dEff, 6)).as("d"),
        when(col("n_a") >= 2L && col("n_b") >= 2L && ssA + ssB > 0.0d,
          round(dEff * (lit(1.0d) -
            lit(3.0d) / (lit(4.0d) * (naD + nbD - 2.0d) - 1.0d)), 6)).as("g"))
  }

  /** Cliff's delta ordinal effect size — [[cohensD]]'s
    * distribution-free sibling: instead of standardizing a mean gap
    * by a pooled SD (meaningless under skew or heavy tails), it
    * counts pair ORDER over all n_a·n_b cross pairs:
    * δ = P(a > b) − P(a < b). Vargha-Delaney A =
    * P(a > b) + P(a = b)/2 — the "probability of superiority" the
    * same counts buy — ships in the same row, plus the standard
    * magnitude label on |δ| (negligible < 0.147 ≤ small < 0.33 ≤
    * medium < 0.474 ≤ large, Romano et al.'s fences).
    *
    * Exact integer core on the per-arm (value, count) cell frames
    * (the [[kendallTauB]] bounded-grid discipline): gt/lt/eq are
    * decimal(38,0) cell-product sums; δ lands as a sign-split ppm
    * floor on |gt − lt| (keeping the `div` numerator non-negative —
    * the Spark-`div`/DuckDB-`//` parity rule) and A in DOUBLED form
    * (2·gt + eq)·10⁶ div 2·n_a·n_b.
    *
    * Scale contract: pair work is |cells_a|·|cells_b| — use on
    * bounded value domains (ordinal codes, bucketed measures);
    * bucket continuous columns first. One row-scale groupBy, then a
    * broadcast cell cross. Output one row: (n_a, n_b, gt, lt, eq,
    * delta_ppm, vda_ppm, magnitude); effect columns null when either
    * arm is empty.
    */
  def cliffsDelta(df: DataFrame, armCol: Column, valueCol: Column,
      armA: String, armB: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = valueCol.cast("long")
    val cells = CacheRegistry.persist(
      df.where(armCol.cast("string").isin(armA, armB) && x.isNotNull)
        .groupBy((armCol.cast("string") === armA).as("_isA"), x.as("_v"))
        .agg(count(lit(1)).as("_c")))
    val a = cells.where(col("_isA"))
      .select(col("_v").as("_va"), col("_c").as("_ca"))
    val b = cells.where(!col("_isA"))
      .select(col("_v").as("_vb"), col("_c").as("_cb"))
    val pairs = a.crossJoin(broadcast(b)).agg(
      coalesce(sum(when(col("_va") > col("_vb"), dec(col("_ca")) * col("_cb"))),
        dec(lit(0L))).as("_gt"),
      coalesce(sum(when(col("_va") < col("_vb"), dec(col("_ca")) * col("_cb"))),
        dec(lit(0L))).as("_lt"),
      coalesce(sum(when(col("_va") === col("_vb"), dec(col("_ca")) * col("_cb"))),
        dec(lit(0L))).as("_eq"))
    val ns = cells.agg(
      coalesce(sum(when(col("_isA"), col("_c"))), lit(0L)).as("n_a"),
      coalesce(sum(when(!col("_isA"), col("_c"))), lit(0L)).as("n_b"))
    ns.crossJoin(broadcast(pairs))
      .withColumn("_den", dec(col("n_a")) * col("n_b"))
      .withColumn("delta_ppm",
        when(col("_den") > 0,
          expr("""CAST(CASE WHEN _gt >= _lt
                 |  THEN (_gt - _lt) * 1000000 div _den
                 |  ELSE -((_lt - _gt) * 1000000 div _den)
                 |END AS BIGINT)""".stripMargin)))
      .withColumn("vda_ppm",
        when(col("_den") > 0,
          expr("CAST((2 * _gt + _eq) * 1000000 div (2 * _den) AS BIGINT)")))
      .select(col("n_a"), col("n_b"),
        col("_gt").cast("long").as("gt"), col("_lt").cast("long").as("lt"),
        col("_eq").cast("long").as("eq"),
        col("delta_ppm"), col("vda_ppm"),
        when(col("delta_ppm").isNotNull,
          expr("""CASE WHEN abs(delta_ppm) < 147000 THEN 'negligible'
                 |  WHEN abs(delta_ppm) < 330000 THEN 'small'
                 |  WHEN abs(delta_ppm) < 474000 THEN 'medium'
                 |  ELSE 'large' END""".stripMargin)).as("magnitude"))
  }

  /** Stratified exact-matching ATT — the estimator behind "match each
    * treated row to a control in the same stratum and average the
    * gaps", computed WITHOUT row-level matching: within a stratum
    * every treated-control pairing has the same expected gap
    * (ȳ_t − ȳ_c), so matching m = min(n_t, n_c) pairs contributes
    * m·(ȳ_t − ȳ_c) — the per-stratum term lands as the exact micros
    * floor m·(S_t·n_c − S_c·n_t)·10⁶ div (n_t·n_c) and the ATT is the
    * match-weighted average Σterm div Σm. The coarsened-exact-matching
    * workhorse (bucket a propensity/covariate into the stratum key
    * first); strata missing an arm drop out — reported via
    * strata_used vs strata_total so imbalance is never silent.
    * One map-combinable groupBy + a 1-row summary. Output:
    * (strata_total, strata_used, n_matched, att_micros).
    */
  def matchedAtt(df: DataFrame, stratumCol: Column, armCol: Column,
      yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val arm = armCol.cast("boolean")
    val y = yCol.cast("long")
    val per = df.where(stratumCol.isNotNull && arm.isNotNull && y.isNotNull)
      .groupBy(stratumCol.as("_s"))
      .agg(
        sum(when(arm, 1L).otherwise(0L)).as("_nt"),
        sum(when(!arm, 1L).otherwise(0L)).as("_nc"),
        sum(when(arm, y).otherwise(0L)).as("_st"),
        sum(when(!arm, y).otherwise(0L)).as("_sc"))
      .withColumn("_m", least(col("_nt"), col("_nc")))
      .withColumn("_term",
        when(col("_m") > 0L,
          ((dec(col("_st")) * col("_nc") - dec(col("_sc")) * col("_nt")) *
            col("_m") * 1000000L)).otherwise(lit(0)))
      .withColumn("_den",
        when(col("_m") > 0L, dec(col("_nt")) * col("_nc")).otherwise(lit(1)))
    per.agg(count(lit(1)).as("strata_total"),
        sum(when(col("_m") > 0L, 1L).otherwise(0L)).as("strata_used"),
        sum(when(col("_m") > 0L, col("_m")).otherwise(0L)).as("n_matched"),
        sum(expr("_term div _den").cast("decimal(38,0)")).as("_num"))
      .select(col("strata_total"), col("strata_used"), col("n_matched"),
        when(col("n_matched") > 0L,
          expr("_num div n_matched").cast("long")).as("att_micros"))
  }

  /** Mantel-Haenszel pooled odds ratio + Cochran-Mantel-Haenszel
    * chi-square — the STRATIFIED 2×2 readout: a raw pooled A/B table
    * is Simpson's-paradox bait (a confounder that shifts both arm mix
    * and base rate flips the sign); MH pools the per-stratum tables
    * into one confounder-adjusted odds ratio and one 1-df common-
    * association test. The companion to [[diffInDiff]] when the
    * confounder is categorical rather than temporal.
    *
    * Determinism discipline ([[mutualInfo]]-style): each stratum's
    * a·d/n, b·c/n, E = (a+b)(a+c)/n and
    * V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)) rounds once to 6dp DECIMAL
    * (cross-count products decimal(38,0)-widened — n⁴ wraps int64
    * past ~10⁵-row strata), the sums are exact, and OR/χ² are one
    * fixed IEEE shape over those scalars. Degenerate strata
    * self-cancel (single-arm strata contribute 0 to both a−E and V;
    * n ≤ 1 strata are guarded out). Shape: one map-combinable
    * groupBy to the |strata| frame, one 1-row summary. Output:
    * (strata, n, or_mh, chi2_cmh), nulls when a pooled denominator
    * degenerates.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: Column, armCol: Column,
      successCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val arm = armCol.cast("boolean")
    val suc = successCol.cast("boolean")
    val per = df.where(stratumCol.isNotNull && arm.isNotNull && suc.isNotNull)
      .groupBy(stratumCol.as("_s"))
      .agg(
        sum(when(arm && suc, 1L).otherwise(0L)).as("_a"),
        sum(when(arm && !suc, 1L).otherwise(0L)).as("_b"),
        sum(when(!arm && suc, 1L).otherwise(0L)).as("_c"),
        sum(when(!arm && !suc, 1L).otherwise(0L)).as("_d"))
      .withColumn("_n", col("_a") + col("_b") + col("_c") + col("_d"))
      .where(col("_n") > 1L)
      .select(col("_a"), col("_n"),
        round((dec(col("_a")) * col("_d")).cast("double") /
          col("_n").cast("double"), 6).cast("decimal(38,6)").as("_tad"),
        round((dec(col("_b")) * col("_c")).cast("double") /
          col("_n").cast("double"), 6).cast("decimal(38,6)").as("_tbc"),
        round((dec(col("_a") + col("_b")) * (col("_a") + col("_c")))
          .cast("double") / col("_n").cast("double"), 6)
          .cast("decimal(38,6)").as("_te"),
        round((dec(col("_a") + col("_b")) * (col("_c") + col("_d")) *
          (col("_a") + col("_c")) * (col("_b") + col("_d"))).cast("double") /
          (dec(col("_n")) * col("_n") * (col("_n") - 1L)).cast("double"), 6)
          .cast("decimal(38,6)").as("_tv"))
    per.agg(count(lit(1)).as("strata"), sum(col("_n")).as("n"),
        sum(col("_a")).as("_A"), sum(col("_tad")).as("_SAD"),
        sum(col("_tbc")).as("_SBC"), sum(col("_te")).as("_E"),
        sum(col("_tv")).as("_V"))
      .select(col("strata"), col("n"),
        when(col("_SBC").cast("double") > 0.0d,
          round(col("_SAD").cast("double") / col("_SBC").cast("double"), 6))
          .as("or_mh"),
        when(col("_V").cast("double") > 0.0d,
          round((col("_A").cast("double") - col("_E").cast("double")) *
            (col("_A").cast("double") - col("_E").cast("double")) /
            col("_V").cast("double"), 6)).as("chi2_cmh"))
  }

  /** EXACT two-sample Cramér–von Mises statistic — [[ksTest]]'s
    * integrated sibling: KS reads the single WORST CDF gap (sensitive
    * to one sharp divergence, blind to a broad shallow one); CvM sums
    * the SQUARED gap over every combined sample point, catching
    * distributed drift a max misses. Tie-robust CDF form:
    * T = Σ_x c(x)·(F_a(x) − F_b(x))² · nm/(n+m)², emitted as the
    * exact integer ppm floor
    * t_ppm = 10⁶·Σ c·(m·cumA − n·cumB)² div (n·m·(n+m)²) — every
    * product decimal(38,0)-widened ((nm)² passes int64 well below
    * corpus scale).
    *
    * Same shape as KS: per-value side counts, ONE
    * [[Relational.prefixSums]] pass for both cumulative counts, a
    * broadcast totals row, one aggregate. Output:
    * (n_a, n_b, t_ppm).
    */
  def cramerVonMises(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val perValue = pooledCounts(df, groupCol, valueCol, a, b)
    val cums = Relational.prefixSums(perValue, Seq(col("_v")),
      Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"))
    val totals = perValue.agg(
      sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    cums.crossJoin(broadcast(totals))
      .select(col("_na"), col("_nb"),
        (dec(col("_ca") + col("_cb")) *
          (dec(col("_nb")) * col("_cumA") - dec(col("_na")) * col("_cumB")) *
          (dec(col("_nb")) * col("_cumA") - dec(col("_na")) * col("_cumB")))
          .as("_term"))
      .groupBy(col("_na").as("n_a"), col("_nb").as("n_b"))
      .agg(sum(col("_term")).as("_num"))
      .withColumn("_den",
        dec(col("n_a")) * col("n_b") *
          (col("n_a") + col("n_b")) * (col("n_a") + col("n_b")))
      .select(col("n_a"), col("n_b"),
        when(col("_den") > 0,
          expr("_num * 1000000 div _den").cast("long")).as("t_ppm"))
  }

  /** EXACT two-sample Anderson–Darling statistic — the tail-weighted
    * member of the CDF-gap family: KS reads the worst gap,
    * [[cramerVonMises]] integrates the squared gap uniformly, AD
    * re-weights each squared gap by 1/(F(1−F)) so divergence in the
    * DISTRIBUTION TAILS (where F(1−F) → 0) counts hardest — the test
    * of choice when the drift you fear is tail drift (latency p99s,
    * outlier-heavy value columns). Tie-robust discrete form over the
    * pooled per-value CDF (Pettitt 1976's A²_nm with multiplicities):
    *
    * {{{ A² = (1/(n·m)) Σ_{B<N} c·(N·cumA − n·B)² / (B·(N−B)) }}}
    *
    * where per distinct value: c = combined count, cumA = running
    * count of sample a, B = running combined count, N = n+m (the
    * B = N term is excluded — its weight is 0/0 and the untied form
    * stops at N−1). Every per-value term is floored to ppm as an
    * exact integer — (10⁶·c·(N·cumA − n·B)²) div (B·(N−B)·n·m) on
    * decimal(38,0)-widened products (the square passes int64 at
    * corpus scale) — and the sum of those floors is the emitted
    * statistic, bit-identical on any engine with exact integer
    * division (DuckDB runs the same floors in HUGEINT).
    *
    * Same distributed shape as KS/CvM: ONE (value) hash-aggregate,
    * ONE [[Relational.prefixSums]] pass, a broadcast totals row, one
    * final aggregate — no global window at any width. Output:
    * (n_a, n_b, a2_ppm).
    */
  def andersonDarling(df: DataFrame, groupCol: Column, valueCol: Column,
      a: String, b: String): DataFrame = {
    val perValue = pooledCounts(df, groupCol, valueCol, a, b)
    val cums = Relational.prefixSums(perValue, Seq(col("_v")),
      Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"))
    val totals = perValue.agg(
      sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    cums.crossJoin(broadcast(totals))
      .withColumn("_B", col("_cumA") + col("_cumB"))
      .withColumn("_N", col("_na") + col("_nb"))
      // per-term ppm floor (numerator is a square, so `div` IS floor);
      // the last pooled value (B = N) carries zero AD weight
      .withColumn("_term",
        when(col("_B") < col("_N"),
          (dec(col("_ca") + col("_cb")) *
            (dec(col("_N")) * col("_cumA") - dec(col("_na")) * col("_B")) *
            (dec(col("_N")) * col("_cumA") - dec(col("_na")) * col("_B")) *
            lit(1000000L)))
          .otherwise(lit(null)))
      .withColumn("_den",
        dec(col("_B")) * (col("_N") - col("_B")) * col("_na") * col("_nb"))
      .groupBy(col("_na").as("n_a"), col("_nb").as("n_b"))
      .agg(sum(when(col("_term").isNotNull && col("_den") > 0,
        expr("_term div _den")).otherwise(lit(0L)).cast("decimal(38,0)"))
        .as("_sum"))
      .select(col("n_a"), col("n_b"),
        col("_sum").cast("long").as("a2_ppm"))
  }

  /** Mood's median test — the coarse-but-assumption-light k-sample
    * location test: split EVERY value at the pooled (lower) median
    * and chi-square the resulting 2×k (≤median / >median) table. It
    * asks only "do the groups straddle the common middle differently"
    * — immune to any monotone transform of the values, the robust
    * sibling of [[kruskalWallis]] when even ranks feel too parametric
    * (heavy censoring at a detection limit, say).
    *
    * Exactness: the pooled lower median is the smallest value whose
    * running combined count reaches ⌈N/2⌉ = (N+1) div 2, read off
    * ONE [[Relational.prefixSum]] pass DIRECTLY over the (group,
    * value, count) cell frame — the intra-value row order can't move
    * the frontier (any row of value v with running count ≥ k proves
    * count(≤v) ≥ k), so no per-value re-aggregate and never a global
    * window (a constant-partition window would fold to one — the
    * lint rightly rejects that spelling). The statistic is the
    * per-cell exact ppm floor sum χ² = Σ_cells (O·N − R·C)² div
    * (N·R·C) over decimal(38,0)-widened products, where R is the
    * group total and C the ≤/> column total. Cells with a zero
    * marginal contribute nothing (their expectation is 0 =
    * observed). Output: (k, n, median, chi2_ppm).
    *
    * Shape: one (group, value) hash-aggregate (the only corpus-scale
    * shuffle), one range-partitioned prefix pass over the cell
    * frame, then k-row frames with broadcast 1-row totals.
    */
  def moodMedian(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val cells = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .groupBy(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val cums = Relational.prefixSum(cells, Seq(col("_v"), col("_g")),
      col("_c"), "_B")
    val n = cells.agg(sum(col("_c")).as("_n"))
    val median = cums.crossJoin(broadcast(n))
      .where(col("_B") >= expr("(_n + 1) div 2"))
      .agg(min(col("_v")).as("_med"))
    val perGroup = cells.crossJoin(broadcast(median))
      .groupBy(col("_g"))
      .agg(
        sum(when(col("_v") <= col("_med"), col("_c")).otherwise(0L)).as("_lo"),
        sum(when(col("_v") > col("_med"), col("_c")).otherwise(0L)).as("_hi"))
    val tots = perGroup.agg(
      count(lit(1)).as("_k"), sum(col("_lo") + col("_hi")).as("_nn"),
      sum(col("_lo")).as("_CL"), sum(col("_hi")).as("_CH"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def cell(o: Column, colTot: Column): Column = {
      val num = (dec(o) * col("_nn") - dec(col("_lo") + col("_hi")) * colTot) *
        (dec(o) * col("_nn") - dec(col("_lo") + col("_hi")) * colTot) *
        lit(1000000L)
      val den = dec(col("_nn")) * (col("_lo") + col("_hi")) * colTot
      when(den > 0, num.cast("decimal(38,0)")).otherwise(lit(null))
    }
    perGroup.crossJoin(broadcast(tots)).crossJoin(broadcast(median))
      .withColumn("_nl", cell(col("_lo"), col("_CL")))
      .withColumn("_dl", dec(col("_nn")) * (col("_lo") + col("_hi")) * col("_CL"))
      .withColumn("_nh", cell(col("_hi"), col("_CH")))
      .withColumn("_dh", dec(col("_nn")) * (col("_lo") + col("_hi")) * col("_CH"))
      .groupBy(col("_k").as("k"), col("_nn").as("n"), col("_med").as("median"))
      .agg(sum(
        coalesce(expr("_nl div _dl"), lit(0L).cast("decimal(38,0)")) +
          coalesce(expr("_nh div _dh"), lit(0L).cast("decimal(38,0)")))
        .as("_chi"))
      .select(col("k"), col("n"), col("median"),
        col("_chi").cast("long").as("chi2_ppm"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) — the standard
    * experiment-sensitivity trick: regress each user's post-period
    * metric on their PRE-period covariate and compare arms on the
    * residualized metric y′ = y − θ(x − x̄), which strips the variance
    * the pre-period already explains (same-mean arms, tighter CIs).
    *
    * Determinism discipline: pre/post per-user values round once to
    * DECIMAL(18,6); all cross-user moments (Σx, Σy, Σx², Σxy) are
    * exact decimal sums; θ, x̄ and the per-user adjustment are then
    * closed-form doubles; per-arm means re-enter 6dp DECIMAL sums.
    * Users need ≥ 2 events (first = pre, rest = post mean); the
    * per-user reduction is ONE key shuffle, the stats row broadcasts.
    * Output per arm: (arm, n_users, mean_post, mean_adj, theta).
    */
  def cuped(df: DataFrame, userCol: Column, armCol: Column,
      tsCol: Column, idCol: Column, valueCol: Column): DataFrame = {
    val perUser = df
      .where(userCol.isNotNull && valueCol.isNotNull)
      .groupBy(userCol.as("u"))
      .agg(
        min(armCol).as("arm"), // constant per user; min = deterministic pick
        min(struct(tsCol.as("_t"), idCol.as("_i"), valueCol.as("_v")))
          .as("_first"),
        sum(round(valueCol, 6).cast("decimal(18,6)")).as("_vsum"),
        count(lit(1)).as("_cnt"))
      .where(col("_cnt") >= 2)
      .select(col("u"), col("arm"),
        round(col("_first").getField("_v"), 6).cast("decimal(18,6)").as("x"),
        // post mean: (Σ all − first) / (cnt − 1), exact decimal then 6dp
        round((col("_vsum") -
            round(col("_first").getField("_v"), 6).cast("decimal(18,6)"))
          .cast("double") / (col("_cnt") - 1).cast("double"), 6)
          .cast("decimal(18,6)").as("y"))
    val stats = perUser.agg(
      count(lit(1)).as("_n"),
      sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
      sum(col("x") * col("x")).as("_sxx"),
      sum(col("x") * col("y")).as("_sxy"))
    val nD = col("_n").cast("double")
    val theta =
      (nD * col("_sxy").cast("double") -
        col("_sx").cast("double") * col("_sy").cast("double")) /
        (nD * col("_sxx").cast("double") -
          col("_sx").cast("double") * col("_sx").cast("double"))
    val xbar = col("_sx").cast("double") / nD
    perUser.crossJoin(broadcast(stats))
      .select(col("arm"),
        col("y"),
        round(col("y").cast("double") -
          theta * (col("x").cast("double") - xbar), 6)
          .cast("decimal(18,6)").as("_yadj"),
        round(theta, 6).as("theta"))
      .groupBy(col("arm"), col("theta"))
      .agg(
        count(lit(1)).as("n_users"),
        round(sum(col("y")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_post"),
        round(sum(col("_yadj")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_adj"))
      .select(col("arm"), col("n_users"), col("mean_post"),
        col("mean_adj"), col("theta"))
  }

  /** Per-group success rates with WILSON score intervals — the
    * ship/no-ship reporting surface for binary metrics (Wald
    * intervals lie badly at small n or extreme p; Wilson is the
    * standard fix). Counts are exact integers; the interval is a
    * closed-form per-group expression (no row-order float sums), so
    * cross-engine equality needs only mirrored formula SHAPE:
    *
    *   c = (p̂ + z²/2n)/(1 + z²/n),
    *   h = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n)
    *
    * One aggregate; output (group, n, successes, rate, lo, hi), 6 dp.
    */
  def wilsonRates(df: DataFrame, groupCol: Column, successCol: Column,
      z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"wilsonRates: z must be > 0, got $z")
    val agg = df.groupBy(groupCol.as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("successes"))
    val nd = col("n").cast("double")
    val p = col("successes").cast("double") / nd
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nd
    val center = (p + z2 / (lit(2.0) * nd)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nd +
      z2 / (lit(4.0) * nd * nd)) / denom
    agg.select(col("grp"), col("n"), col("successes"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("lo"),
      round(center + half, 6).as("hi"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation —
    * the classic lifecycle grid: per key the days since last event,
    * the event count, and the exact money total, each quintiled, the
    * three digits concatenated into a segment code.
    *
    * Keys are USERS — corpus-scale, not dimension-bounded — so the
    * quintiling never runs a global `ntile` window: each digit's
    * global rank rides the range-partitioned
    * [[Relational.prefixSums]] (rank = running count of 1 over the
    * (metric, key) total order), and the NTILE bucket is recovered
    * from (rank, n) by its closed form — the first n mod b buckets
    * take ⌈n/b⌉ rows, the rest ⌊n/b⌋ — bit-identical to the window
    * ntile, three sorts + two keyed joins, no single-partition stage.
    * Returns one row per segment: (segment, n_keys).
    */
  def rfmSegments(df: DataFrame, keyCol: Column, dateCol: Column,
      amountCents: Column, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, s"rfmSegments: buckets must be >= 2, got $buckets")
    val per = df.groupBy(keyCol.as("k"))
      .agg(max(dateCol).as("_last"), count(lit(1)).as("_f"),
        sum(amountCents).as("_m"))
    val anchor = per.agg(max(col("_last")).as("_anchor"))
    val based = CacheRegistry.persist(
      per.crossJoin(broadcast(anchor))
        .select(col("k"), datediff(col("_anchor"), col("_last")).as("_r"),
          col("_f"), col("_m")))
    val nDf = based.agg(count(lit(1)).as("_n"))
    // ntile(b) from a 1-based global rank r over n rows, closed form:
    // q = n div b, rem = n mod b; r <= rem*(q+1) -> (r+q) div (q+1),
    // else rem + (r - rem*(q+1) + q - 1) div q
    val b = buckets.toLong
    def digit(metric: Column, out: String): DataFrame =
      Relational.prefixSum(based.select(col("k"), metric.as("_v")),
          Seq(col("_v"), col("k")), lit(1L), "_rank")
        .crossJoin(broadcast(nDf))
        .select(col("k"),
          expr(s"""IF(_rank <= (_n % $b) * (_n div $b + 1),
                  |  (_rank + _n div $b) div (_n div $b + 1),
                  |  _n % $b + (_rank - (_n % $b) * (_n div $b + 1)
                  |    + _n div $b - 1) div (_n div $b))""".stripMargin)
            .as(out))
    digit(col("_r"), "_qr")
      .join(digit(col("_f"), "_qf"), Seq("k"))
      .join(digit(col("_m"), "_qm"), Seq("k"))
      .select((col("_qr") * 100 + col("_qf") * 10 + col("_qm"))
        .cast("int").as("segment"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n_keys"))
  }

  /** EXACT distributed quantiles (type-1 / lower) — the scale-honest
    * alternative to `percentile_approx` when the answer must be a
    * real data value with zero error: per-value counts (one partial-
    * agg shuffle of |distinct| rows), ONE [[Relational.prefixSum]]
    * CDF pass, then each requested p reads the smallest value whose
    * cumulative count reaches ⌈p·N⌉ — a filter + min over the cached
    * CDF per quantile, no sort of raw rows, no single-partition
    * window, no second scan of the source. Returns one row per p:
    * (p, value, rank, n).
    */
  def exactQuantiles(df: DataFrame, valueCol: Column,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"exactQuantiles: probs must be in (0,1], got $probs")
    val counts = df.where(valueCol.isNotNull)
      .groupBy(valueCol.as("_v")).agg(count(lit(1)).as("_c"))
    val cdf = Relational.prefixSum(counts, Seq(col("_v")), col("_c"), "_cum")
    // total = the last cumulative (counts are >= 1, so _cum is strictly
    // increasing) — read it off the CACHED sorted frame instead of
    // recomputing the counts aggregate from scratch
    val n = cdf.agg(max(col("_cum")).as("_n"))
    // ALL probs resolve in one conditional-min pass over the CDF — no
    // per-prob filter+aggregate plans (the groupedExactQuantiles move)
    val qAggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("_cum") >= ceil(lit(p) * col("_n")), col("_v"))).as(s"_q$i")
    }
    val one = cdf.crossJoin(broadcast(n))
      .groupBy(col("_n")).agg(qAggs.head, qAggs.tail: _*)
    val pv = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), col(s"_q$i").as("value"),
        ceil(lit(p) * col("_n")).as("rank"))
    }
    one.select(explode(array(pv: _*)).as("_pv"), col("_n").as("n"))
      .select(col("_pv.p").as("p"), col("_pv.value").as("value"),
        col("_pv.rank").as("rank"), col("n"))
  }

  /** SAX (Symbolic Aggregate approXimation) — time-series
    * TOKENIZATION: each key's ordered integer series is z-normalized,
    * averaged into `segments` equal-width PAA chunks, and each chunk
    * mapped to a letter by the standard N(0,1) quartile breakpoints
    * (−0.6745 / 0 / 0.6745, alphabet abcd) — the discretization that
    * turns sensor/activity streams into words an LM (or a motif miner)
    * can train on.
    *
    * Determinism: μ, σ and every segment mean come from EXACT integer
    * sums (n, Σx, Σx²); the z-scores and comparisons are one fixed
    * IEEE expression shape, so a second engine lands on the same
    * letters bit-for-bit. Degenerate series (σ = 0) read 'b' (z = 0)
    * everywhere. Segment assignment is i·segments div n over the
    * per-key row_number — windows partition BY KEY, the letter
    * assembly is an array_sort over ≤`segments` structs. Returns
    * (key, n, sax).
    */
  def saxWords(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      valueCol: Column, segments: Int = 8): DataFrame = {
    require(segments >= 1, s"saxWords: segments must be >= 1, got $segments")
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val base = df.select(keyCol.as("_k") +: valueCol.cast("long").as("_x") +:
        orderBy: _*)
      .where(col("_x").isNotNull)
      .withColumn("_i", row_number().over(w).cast("long") - 1L)
    val stats = base.groupBy(col("_k")).agg(
      count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
      // widen BEFORE the square: x² on raw longs would wrap silently
      // once |x| passes 2^31.5-ish at real scale
      sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"))
    // _n is per-key — join stats in first, then bucket
    val bucketed = base.join(stats, Seq("_k"))
      .withColumn("_seg", expr(s"_i * ${segments}L div _n"))
      .groupBy(col("_k"), col("_seg"))
      .agg(count(lit(1)).as("_sn"), sum(col("_x")).as("_ss"),
        first(col("_n")).as("_n"), first(col("_s")).as("_s"),
        first(col("_q")).as("_q"))
    val mu = col("_s").cast("double") / col("_n").cast("double")
    val sigma = sqrt(
      (col("_q").cast("double") -
        col("_s").cast("double") * col("_s").cast("double") / col("_n").cast("double")) /
        col("_n").cast("double"))
    val z = (col("_ss").cast("double") / col("_sn").cast("double") - mu) / sigma
    val sym = when(sigma === 0.0, lit("b"))
      .when(z < -0.6745, lit("a"))
      .when(z < 0.0, lit("b"))
      .when(z < 0.6745, lit("c"))
      .otherwise(lit("d"))
    bucketed
      .withColumn("_sym", sym)
      .groupBy(col("_k").as("key"))
      .agg(first(col("_n")).as("n"),
        array_join(transform(
          array_sort(collect_list(struct(col("_seg"), col("_sym")))),
          s => s.getField("_sym")), "").as("sax"))
  }

  /** Conditional entropy H(Y|X) over a pair stream — for word bigrams,
    * the corpus's next-word predictability (low = templated/repetitive
    * text, high = diverse prose; THE one-number complement to
    * [[sequenceNll]]'s per-key scores): H(Y|X) = (1/N)·Σ_xy n_xy ·
    * ln(n_x / n_xy), with per-cell 6dp DECIMAL terms (weighted by the
    * exact integer n_xy BEFORE rounding loses nothing — the term is
    * rounded, then multiplied exactly), one final division. Also
    * reports perplexity = exp(H). Cell frame bounded by |X|·|Y|.
    * Output one row: (n_pairs, h_cond, perplexity).
    */
  def conditionalEntropy(pairs: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = pairs.select(xCol.as("_x"), yCol.as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_nxy"))
      .transform(CacheRegistry.checkpoint(_))
    val marg = cells.groupBy(col("_x")).agg(sum(col("_nxy")).as("_nx"))
    cells.join(marg, Seq("_x"))
      .select(col("_nxy"),
        (round(log(col("_nx").cast("double") / col("_nxy").cast("double")), 6)
          .cast("decimal(18,6)") * col("_nxy")).as("_t"))
      .agg(sum(col("_nxy")).as("n_pairs"), sum(col("_t")).as("_ts"))
      .select(col("n_pairs"),
        round(col("_ts").cast("double") / col("n_pairs").cast("double"), 6)
          .as("h_cond"),
        round(exp(col("_ts").cast("double") / col("n_pairs").cast("double")), 4)
          .as("perplexity"))
  }

  /** Minimum detectable effect — experiment SIZING, the question asked
    * before any A/B test ships: with this metric's variance and a
    * 50/50 split of today's traffic, how small a lift could the test
    * see at 80% power / α = 0.05 (two-sided)? MDE = (z_{α/2} + z_β) ·
    * σ · √(2 / n_arm). σ comes from exact integer moment sums (n, Σx,
    * Σx²; sample variance, n−1); the z constants are spelled as
    * literals so the IEEE shape is engine-identical. Output per group:
    * (n, mean, sigma, mde, mde_rel_ppm_of_mean as rounded double).
    */
  def minDetectableEffect(df: DataFrame, groupCol: Column,
      centsCol: Column): DataFrame = {
    // z_{0.025} + z_{0.20} pre-summed as ONE literal: a runtime
    // double-add could differ by an ulp from another engine's
    // decimal-exact constant fold
    val zSum = lit(2.801585)
    df.select(groupCol.as("_g"), centsCol.cast("long").as("_x"))
      .where(col("_x").isNotNull)
      .groupBy(col("_g").as("group"))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"))
      .where(col("n") >= 4)
      .select(col("group"), col("n"),
        round(col("_s").cast("double") / col("n").cast("double"), 6).as("mean"),
        round(sqrt((col("_q").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") /
            col("n").cast("double")) / (col("n").cast("double") - lit(1.0))), 6)
          .as("sigma"),
        round(zSum *
          sqrt((col("_q").cast("double") -
            col("_s").cast("double") * col("_s").cast("double") /
              col("n").cast("double")) / (col("n").cast("double") - lit(1.0))) *
          sqrt(lit(2.0) / (col("n").cast("double") / lit(2.0))), 6).as("mde"))
  }

  /** Quantile normalization — map every group's values onto the
    * GLOBAL distribution by rank (the cross-feed score calibrator:
    * after it, "0.9 from feed A" and "0.9 from feed B" mean the same
    * percentile, so one threshold works corpus-wide). For each
    * (group, value): its group-CDF rank in ppm, then the smallest
    * global value whose global rank-ppm reaches it.
    *
    * Both CDFs live on (group ×) DISTINCT-value count frames — the
    * quantile-family boundedness. The per-group CDF is a keyed window
    * (hash-partitioned); the GLOBAL CDF rides the range-partitioned
    * [[Relational.prefixSum]] — distinct values can be corpus-scale,
    * so no single-partition window anywhere in the plan. The inverse
    * lookup is a rank-band join between the two bounded frames
    * (document scale: swap for the as-of merge when distinct values
    * grow past memory; the frames, not the corpus, bound the work).
    * Output one row per distinct (group, value):
    * (group, value, rank_ppm, normalized).
    */
  def quantileNormalize(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val base = CacheRegistry.persist(
      df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .where(col("_v").isNotNull))
    val gc = base.groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
    val wg = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gn = gc.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val gcdf = gc.withColumn("_cum", sum(col("_c")).over(wg))
      .join(gn, Seq("_g"))
      .select(col("_g"), col("_v"), expr("_cum * 1000000 div _ng").as("rank_ppm"))
    val tc = base.groupBy(col("_v").as("_gv")).agg(count(lit(1)).as("_c"))
    val tn = tc.agg(sum(col("_c")).as("_nt"))
    // global CDF via the range-partitioned prefix sum — distinct values
    // can be corpus-scale (every distinct score), so no global window
    val tcdf = Relational.prefixSum(tc, Seq(col("_gv")), col("_c"), "_cumt")
      .crossJoin(broadcast(tn))
      .select(col("_gv"), expr("_cumt * 1000000 div _nt").as("_gppm"))
      .transform(CacheRegistry.checkpoint(_))
    gcdf.join(tcdf, col("_gppm") >= col("rank_ppm"))
      .groupBy(col("_g").as("group"), col("_v").as("value"), col("rank_ppm"))
      .agg(min(col("_gv")).as("normalized"))
  }

  /** Multi-touch LINEAR attribution — the fairness counterpart of the
    * as-of last-touch gate: every same-key touch inside the lookback
    * window shares the conversion's credit equally, in exact ppm with
    * the floor-remainder accounted (k touches get 10⁶ div k each;
    * sum ≤ 10⁶, the remainder is reported, never smeared). Output is
    * the summary an attribution dashboard reads: conversions,
    * touched-conversion count, credited touches, and the exact ppm
    * credit mass per touch bucket.
    *
    * Shape: one equi-join on the key with the window predicate
    * filtered post-join — per-key candidate pairs, bounded by per-key
    * activity (the same envelope every sessionization accepts), then
    * two map-combinable aggregates. Returns one row: (n_conversions,
    * n_touched, n_credited_touches, credit_ppm_total,
    * remainder_ppm_total).
    */
  def linearAttribution(df: DataFrame, keyCol: Column, idCol: Column,
      tsCol: Column, conversionFilter: Column, touchFilter: Column,
      windowUs: Long): DataFrame = {
    require(windowUs >= 1, s"linearAttribution: windowUs must be >= 1, got $windowUs")
    val us = unix_micros(tsCol.cast("timestamp"))
    val conv = df.where(conversionFilter)
      .select(keyCol.as("_k"), us.as("_ct"), idCol.as("_cid"))
    val touch = df.where(touchFilter).select(keyCol.as("_k"), us.as("_tt"))
    val joined = conv.join(touch, Seq("_k"), "left")
      .withColumn("_hit",
        col("_tt").isNotNull && col("_tt") <= col("_ct") &&
          col("_ct") - col("_tt") <= windowUs)
    val perConv = joined.groupBy(col("_cid"))
      .agg(sum(when(col("_hit"), 1L).otherwise(0L)).as("_k_touches"))
    perConv.agg(
      count(lit(1)).as("n_conversions"),
      sum(when(col("_k_touches") > 0, 1L).otherwise(0L)).as("n_touched"),
      sum(col("_k_touches")).as("n_credited_touches"),
      sum(when(col("_k_touches") > 0,
        expr("(1000000 div _k_touches) * _k_touches")).otherwise(0L))
        .as("credit_ppm_total"),
      sum(when(col("_k_touches") > 0,
        expr("1000000 - (1000000 div _k_touches) * _k_touches")).otherwise(0L))
        .as("remainder_ppm_total"))
  }

  /** Per-group winsorized mean — [[robustStats]]' actionable sibling:
    * clamp each group's values at its own exact p-lo/p-hi quantiles
    * (from [[groupedExactQuantiles]]), then take the exact integer
    * mean of the clamped cents (truncating div). The per-feed outlier
    * guard: one rogue feed's spikes stop distorting ITS mean without
    * touching anyone else's distribution. Output: (group, n, lo, hi,
    * winsorized_mean).
    */
  def groupedWinsorizedMean(df: DataFrame, groupCol: Column, valueCol: Column,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo > 0.0 && pHi < 1.0 && pLo < pHi,
      s"groupedWinsorizedMean: need 0 < pLo < pHi < 1, got $pLo/$pHi")
    // one row-scale scan; clamp sums ride the bounded cell frame
    // (Σ clamp(v)·c), weighted — see [[cellQuantiles]]
    val cells = CacheRegistry.persist(
      df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .where(col("_v").isNotNull)
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c")))
    val fences = cellQuantiles(cells, Seq(pLo, pHi))
      .select(col("_g"), col("_n"), col("_q0").as("_lo"), col("_q1").as("_hi"))
    cells.join(fences, Seq("_g"))
      .groupBy(col("_g").as("group"))
      .agg(first(col("_n")).as("n"), first(col("_lo")).as("lo"),
        first(col("_hi")).as("hi"),
        sum(greatest(col("_lo"), least(col("_hi"), col("_v"))) * col("_c"))
          .as("_sum"))
      .select(col("group"), col("n"), col("lo"), col("hi"),
        expr("_sum div n").as("winsorized_mean"))
  }

  /** Per-group TRIMMED mean — the harder-edged sibling of
    * [[groupedWinsorizedMean]]: the winsorized mean CLAMPS the tails
    * to the fences (outliers still vote, at capped weight); the
    * trimmed mean DELETES them — drop the lowest and highest
    * ⌊α·n⌋ observations, exact integer mean of the survivors. α
    * arrives as ppm (50000 = classic 5% a side) so the trim count
    * t = n·α div 10⁶ is exact.
    *
    * Shape: ONE row-scale scan to the (group, value, count) cell
    * frame; the tail sums are interval-overlap sums on the per-group
    * CDF (each cell contributes max(0, min(cum, t) − (cum − c))
    * low-tail rows and the mirrored high-tail overlap) — no row-level
    * sort, no second scan, bounded by the value domain like the rest
    * of the quantile family. Output: (group, n, n_trimmed,
    * trimmed_mean); n_trimmed = n − 2t (null mean when it hits 0).
    */
  def groupedTrimmedMean(df: DataFrame, groupCol: Column, valueCol: Column,
      alphaPpm: Long = 50000L): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm < 500000L,
      s"groupedTrimmedMean: alphaPpm must be in [0, 500000), got $alphaPpm")
    val cells = df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
      .where(col("_v").isNotNull)
      .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("_g"))
    cells
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_t", expr(s"_n * ${alphaPpm}L div 1000000"))
      // low tail: rows of this cell inside the first t; high tail:
      // rows inside the last t (cum > n − t)
      .withColumn("_lowc",
        greatest(lit(0L), least(col("_cum"), col("_t")) - (col("_cum") - col("_c"))))
      .withColumn("_highc",
        greatest(lit(0L),
          col("_cum") - greatest(col("_cum") - col("_c"), col("_n") - col("_t"))))
      .groupBy(col("_g").as("group"))
      .agg(first(col("_n")).as("n"), first(col("_n") - lit(2L) * col("_t")).as("n_trimmed"),
        sum((col("_c") - col("_lowc") - col("_highc")) * col("_v")).as("_sum"))
      .select(col("group"), col("n"), col("n_trimmed"),
        when(col("n_trimmed") > 0L, expr("_sum div n_trimmed")).as("trimmed_mean"))
  }

  /** Decile lift / gains table — THE model-triage readout for a scored
    * population ("the top 10% of scores captures 3.1× its share of
    * responders"): bucket rows by score DESCENDING into `buckets`
    * equal rank slices, and report each slice's size, captured
    * responders, response rate, and cumulative lift vs the base rate.
    *
    * Ties share: a score cell straddling a bucket boundary allocates
    * its responders PRO-RATA to the overlap (per-cell exact floor
    * p·o·10⁶ div c, so equal scores get equal treatment and the
    * readout is deterministic — no arbitrary ntile tie placement to
    * diverge between engines). Responder masses are therefore ppm.
    *
    * Shape: one scan to the (score, count, responders) cell frame
    * (bounded by the score domain), a DESCENDING [[Relational.prefixSum]]
    * for the rank CDF, a broadcast of the `buckets` boundary rows for
    * the interval-overlap split, and a `buckets`²-sized self-join for
    * the cumulative column — nothing row-scale after the first
    * aggregate, no global window. Lift products ride decimal(38,0)
    * (ppm · corpus-scale counts overflow int64). Output: (bucket,
    * n_rows, resp_ppm, rate_ppm, cum_lift_ppm), bucket 1 = top scores.
    */
  def liftTable(df: DataFrame, scoreCol: Column, respCol: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"liftTable: buckets must be >= 2, got $buckets")
    val cells = df.select(scoreCol.cast("long").as("_v"),
        respCol.cast("long").as("_r"))
      .where(col("_v").isNotNull && col("_r").isNotNull)
      .groupBy(col("_v"))
      .agg(count(lit(1)).as("_c"), sum(col("_r")).as("_p"))
    // rank CDF descending: top score first
    val cdf = Relational.prefixSum(
      cells.withColumn("_nv", -col("_v")), Seq(col("_nv")), col("_c"), "_cum")
    val totals = cells.agg(sum(col("_c")).as("_n"), sum(col("_p")).as("_tp"))
    val bounds = totals.select(col("_n"), col("_tp"),
        explode(sequence(lit(1), lit(buckets))).as("bucket"))
      .select(col("bucket"), col("_n"), col("_tp"),
        expr(s"(bucket - 1) * _n div $buckets").as("_lo"),
        expr(s"bucket * _n div $buckets").as("_hi"))
    val sliced = cdf.crossJoin(broadcast(bounds))
      .withColumn("_o",
        greatest(lit(0L), least(col("_cum"), col("_hi")) -
          greatest(col("_cum") - col("_c"), col("_lo"))))
      .where(col("_o") > 0L)
      .groupBy(col("bucket"))
      .agg(first(col("_n")).as("_n"), first(col("_tp")).as("_tp"),
        sum(col("_o")).as("n_rows"),
        // p·o·10⁶ rides decimal before the floor div — a hot cell at
        // corpus scale would wrap the int64 product
        sum(expr("CAST(_p AS DECIMAL(38,0)) * _o * 1000000 div _c")
          .cast("long")).as("resp_ppm"))
    // cumulative via the buckets²-bounded self-join (no window)
    val cum = sliced.select(col("bucket").as("_b2"), col("n_rows").as("_n2"),
        col("resp_ppm").as("_r2"))
    sliced.join(cum, col("_b2") <= col("bucket"))
      .groupBy(col("bucket"))
      .agg(first(col("_n")).as("_n"), first(col("_tp")).as("_tp"),
        first(col("n_rows")).as("n_rows"), first(col("resp_ppm")).as("resp_ppm"),
        sum(col("_n2")).as("_cn"), sum(col("_r2")).as("_cr"))
      .withColumn("_ln", col("_cr").cast("decimal(38,0)") * col("_n"))
      .withColumn("_ld", col("_cn").cast("decimal(38,0)") * col("_tp"))
      .select(col("bucket"), col("n_rows"), col("resp_ppm"),
        expr("resp_ppm div n_rows").as("rate_ppm"),
        when(col("_tp") > 0L, expr("_ln div _ld").cast("long")).as("cum_lift_ppm"))
  }

  /** Per-group IQR fence audit — Tukey's boxplot rule as a data-quality
    * readout: exact p25/p75 per group, fences at q1 − k·IQR and
    * q3 + k·IQR with k as an exact PERCENT (150 = the classic 1.5×,
    * integer arithmetic — no float fence), and the count of rows
    * outside. The per-feed outlier dashboard beside [[robustStats]]
    * (which summarizes location/scale; this one counts the casualties).
    *
    * Shape: ONE row-scale scan builds the (group, value, count) cell
    * frame; the quantile CDF, the fences, AND the fence-violation
    * counts (Σ cell counts below/above the fence) all ride that
    * bounded frame — the counting pass never re-touches the input.
    * Output: (group, n, q1, q3, lo_fence, hi_fence, n_low, n_high).
    */
  def iqrOutliers(df: DataFrame, groupCol: Column, valueCol: Column,
      fencePct: Long = 150L): DataFrame = {
    require(fencePct >= 0, s"iqrOutliers: fencePct must be >= 0, got $fencePct")
    // bounded by groups × distinct values — the only row-scale scan
    val cells = CacheRegistry.persist(
      df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .where(col("_v").isNotNull)
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c")))
    val fenced = cellQuantiles(cells, Seq(0.25, 0.75))
      .select(col("_g"), col("_n"), col("_q0").as("q1"), col("_q1").as("q3"))
      .select(col("_g"), col("_n"), col("q1"), col("q3"),
        (col("q1") - expr(s"(q3 - q1) * ${fencePct}L div 100")).as("lo_fence"),
        (col("q3") + expr(s"(q3 - q1) * ${fencePct}L div 100")).as("hi_fence"))
    cells.join(fenced, Seq("_g"))
      .groupBy(col("_g").as("group"))
      .agg(first(col("_n")).as("n"), first(col("q1")).as("q1"),
        first(col("q3")).as("q3"), first(col("lo_fence")).as("lo_fence"),
        first(col("hi_fence")).as("hi_fence"),
        sum(when(col("_v") < col("lo_fence"), col("_c")).otherwise(0L)).as("n_low"),
        sum(when(col("_v") > col("hi_fence"), col("_c")).otherwise(0L)).as("n_high"))
  }

  /** Per-group robust location/scale — exact median and MAD (median
    * absolute deviation), the outlier-immune counterpart of
    * [[graft.operators.TrainingData.featureScale]]'s min-max/z pair:
    * one rogue value moves a mean and a sigma arbitrarily far but
    * budges neither median. ONE row-scale scan builds the (group,
    * value, count) cell frame; both medians ([[cellQuantiles]] on the
    * values, then on |v − median| with the SAME counts re-aggregated)
    * ride that bounded frame — the deviation pass folds distinct
    * values, never raw rows. Exact integers end-to-end.
    * Output: (group, n, median, mad).
    */
  def robustStats(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val cells = CacheRegistry.persist(
      df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .where(col("_v").isNotNull)
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c")))
    val med = cellQuantiles(cells, Seq(0.5))
      .select(col("_g"), col("_n"), col("_q0").as("_med"))
    // deviation CELLS: |v − med| can collide (v = med ± d), so
    // re-aggregate the counts before the second CDF
    val devCells = cells.join(med, Seq("_g"))
      .groupBy(col("_g"), abs(col("_v") - col("_med")).as("_v"))
      .agg(sum(col("_c")).as("_c"))
    cellQuantiles(devCells, Seq(0.5))
      .select(col("_g"), col("_q0").as("mad"))
      .join(med, Seq("_g"))
      .select(col("_g").as("group"), col("_n").as("n"),
        col("_med").as("median"), col("mad"))
  }

  /** Sample-ratio-mismatch check — the experiment-validity gate that
    * must run BEFORE any lift readout: a 50/50 assignment that arrives
    * 52/48 means the bucketing is broken and every downstream metric
    * is garbage. For two arms the 1-df chi-square against an equal
    * split reduces to (a−b)²/(a+b) — emitted as exact integer ppm
    * (×10⁶, truncating div), with the 3.84 / 6.63 significance fences
    * pre-compared so the verdict is integer-exact too. One
    * map-combinable aggregate; arms come from `armCol` ∈ {0, 1}.
    * Output: (n_a, n_b, chi2_ppm, srm_95, srm_99).
    */
  def srmCheck(df: DataFrame, armCol: Column): DataFrame =
    df.select(armCol.cast("long").as("_arm"))
      .where(col("_arm").isin(0L, 1L))
      .agg(sum(when(col("_arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)")
          .as("chi2_ppm"))
      .withColumn("srm_95", col("chi2_ppm") > 3841459L)
      .withColumn("srm_99", col("chi2_ppm") > 6634897L)

  /** [[lagAutocorr]] for INTEGER (cents) series with wide exact
    * moments: six DECIMAL(38,0) sums over the lag pairs, one final
    * IEEE correlation shape — the decimal(18,6) moment path overflows
    * (in a second engine's fixed-width decimal multiply) once daily
    * totals reach ~10⁶-cent scale, so aggregated series use this
    * form. Output: (key, n_pairs, r).
    */
  def lagAutocorrExact(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column, k: Int, minPairs: Long = 3L): DataFrame = {
    require(k >= 1, s"lagAutocorrExact: lag must be >= 1, got $k")
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairs = df.where(centsCol.isNotNull)
      .select((keyCol.as("_k") +: orderBy) :+ centsCol.cast("long").as("_x"): _*)
      .withColumn("_y", lag(col("_x"), k).over(w))
      .where(col("_y").isNotNull)
    pairs.groupBy(col("_k").as("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(dec(col("_x")) * col("_y")).as("_sxy"),
        sum(dec(col("_x")) * col("_x")).as("_sxx"),
        sum(dec(col("_y")) * col("_y")).as("_syy"))
      .select(col("key"), col("n_pairs"),
        when(col("n_pairs") < minPairs ||
          (col("n_pairs") * col("_sxx") - col("_sx") * col("_sx"))
            .cast("double") <= 0 ||
          (col("n_pairs") * col("_syy") - col("_sy") * col("_sy"))
            .cast("double") <= 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
              (sqrt((col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
               sqrt((col("n_pairs") * col("_syy") - col("_sy") * col("_sy")).cast("double"))),
            6)).as("r"))
  }

  /** Cross-correlation function — [[lagAutocorrExact]] between TWO
    * series: r(ℓ) = corr(x_t, y_{t−ℓ}) over the aligned ticks, the
    * "does x LEAD y" diagnostic (positive ℓ: x now vs y ℓ ticks ago;
    * negative ℓ: x now vs y ℓ ticks ahead). The lag alignment is a
    * HASH JOIN on tick arithmetic (a.tick = b.tick + ℓ, every
    * requested ℓ in one exploded join) — no window, no sort, no
    * per-key ordering assumption, so the series can be corpus-wide
    * without a single-partition stage.
    *
    * Exactness: the [[degreeAssortativity]] moment discipline — six
    * decimal(38,0) sums per lag, one fixed IEEE expression, 6dp.
    * Lags with < `minPairs` aligned ticks or zero variance on either
    * leg report null r. Output one row per requested lag:
    * (lag, n_pairs, r).
    */
  def crossCorr(df: DataFrame, tickCol: Column, xCol: Column,
      yCol: Column, lags: Seq[Int], minPairs: Long = 3L): DataFrame = {
    require(lags.nonEmpty, "crossCorr: need at least one lag")
    require(lags.distinct.size == lags.size,
      s"crossCorr: duplicate lags in $lags")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = CacheRegistry.persist(
      df.select(tickCol.cast("long").as("_t"),
        xCol.cast("long").as("_x"), yCol.cast("long").as("_y")))
    val a = base.where(col("_x").isNotNull && col("_t").isNotNull)
      .select(col("_t").as("_ta"), col("_x"))
    val b = base.where(col("_y").isNotNull && col("_t").isNotNull)
      .select(explode(typedLit(lags.map(_.toLong))).as("lag"),
        col("_t"), col("_y"))
      .select(col("lag"), (col("_t") + col("lag")).as("_tb"), col("_y"))
    a.join(b, col("_ta") === col("_tb"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(dec(col("_x")) * col("_y")).as("_sxy"),
        sum(dec(col("_x")) * col("_x")).as("_sxx"),
        sum(dec(col("_y")) * col("_y")).as("_syy"))
      .select(col("lag"), col("n_pairs"),
        when(col("n_pairs") < minPairs ||
          (col("n_pairs") * col("_sxx") - col("_sx") * col("_sx"))
            .cast("double") <= 0 ||
          (col("n_pairs") * col("_syy") - col("_sy") * col("_sy"))
            .cast("double") <= 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
              (sqrt((col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
               sqrt((col("n_pairs") * col("_syy") - col("_sy") * col("_sy")).cast("double"))),
            6)).as("r"))
  }

  /** DAU/MAU-style stickiness: per period, the average per-tick
    * distinct actives as a ppm share of the period's distinct actives
    * — "of the users seen this month, what fraction shows up on an
    * average day". The growth dashboard's habit metric, exact:
    * stickiness_ppm = (Σ_tick dau_tick) · 10⁶ div (n_ticks · period
    * actives). Two distinct-pair aggregates, both bounded by active
    * (key, tick) pairs. Output: (period, n_ticks, sum_tick_actives,
    * period_actives, stickiness_ppm).
    */
  def stickiness(df: DataFrame, keyCol: Column, tickCol: Column,
      ticksPerPeriod: Long): DataFrame = {
    require(ticksPerPeriod >= 1,
      s"stickiness: ticksPerPeriod must be >= 1, got $ticksPerPeriod")
    val act = df.select(keyCol.as("_k"), tickCol.cast("long").as("_t"))
      .where(col("_k").isNotNull && col("_t").isNotNull).distinct()
      .withColumn("_p", expr(s"_t div ${ticksPerPeriod}L"))
      .transform(CacheRegistry.checkpoint(_))
    val perTick = act.groupBy(col("_p"), col("_t")).agg(count(lit(1)).as("_dau"))
      .groupBy(col("_p"))
      .agg(count(lit(1)).as("n_ticks"), sum(col("_dau")).as("sum_tick_actives"))
    val perPeriod = act.select(col("_p"), col("_k")).distinct()
      .groupBy(col("_p")).agg(count(lit(1)).as("period_actives"))
    perTick.join(perPeriod, Seq("_p"))
      .select(col("_p").as("period"), col("n_ticks"), col("sum_tick_actives"),
        col("period_actives"),
        expr("sum_tick_actives * 1000000 div (n_ticks * period_actives)")
          .as("stickiness_ppm"))
  }

  /** Period-over-period churn matrix: per period p (except the last),
    * how many keys were active, how many of them returned in p+1
    * (retained) and how many vanished (churned) — the
    * cohort-retention diagonal every growth dashboard starts with.
    *
    * One distinct on (key, period), one self-join on (key, period+1
    * mapped back) — both bounded by active (key, period) pairs, never
    * raw events; exact ppm. Output: (period, n_active, n_retained,
    * n_churned, retention_ppm).
    */
  def churnMatrix(df: DataFrame, keyCol: Column, periodCol: Column): DataFrame = {
    val act = df.select(keyCol.as("_k"), periodCol.cast("long").as("_p"))
      .where(col("_k").isNotNull && col("_p").isNotNull).distinct()
      .transform(CacheRegistry.checkpoint(_))
    val nxt = act.select(col("_k"), (col("_p") - 1L).as("_p"), lit(1).as("_r"))
    val maxP = act.agg(max(col("_p")).as("_maxp"))
    act.join(nxt, Seq("_k", "_p"), "left")
      .groupBy(col("_p").as("period"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("_r").isNotNull, 1L).otherwise(0L)).as("n_retained"))
      .crossJoin(broadcast(maxP))
      .where(col("period") < col("_maxp"))
      .select(col("period"), col("n_active"), col("n_retained"),
        (col("n_active") - col("n_retained")).as("n_churned"),
        expr("n_retained * 1000000 div n_active").as("retention_ppm"))
  }

  /** Classical seasonal decomposition, integer-exact: per group, each
    * day's deviation from its CENTERED 7-observation moving average,
    * folded by weekday position. The standard additive
    * ratio-to-moving-average recipe with one twist — deviations are
    * kept as `period·x − Σwindow` (the MA scaled by `period`), so the
    * whole statistic is exact integer arithmetic with ONE truncating
    * division at the end; no float drifts, any shuffle order.
    * A strongly positive avg_dev at position p says "this weekday
    * runs hot" (the seasonality a forecaster must remove first).
    *
    * The MA is over the `period` nearest OBSERVATIONS (rows frame),
    * which equals the calendar MA on gap-free series and degrades
    * gracefully on sparse ones; incomplete edge windows are dropped.
    * Windows partition per group over the per-day frame — bounded by
    * the calendar span. Output: (group, pos, n, sum_dev, avg_dev),
    * dev scaled by `period`.
    */
  def weekdayDeviation(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column, period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"weekdayDeviation: period must be odd >= 3, got $period")
    val half = period / 2
    val daily = df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
        centsCol.as("_x"))
      .where(col("_d").isNotNull && col("_x").isNotNull)
      .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
      .rowsBetween(-half, half)
    daily
      .withColumn("_w7", sum(col("_xs")).over(w))
      .withColumn("_cnt", count(lit(1)).over(w))
      .where(col("_cnt") === period)
      .select(col("_g"), pmod(col("_d"), lit(period.toLong)).as("pos"),
        (col("_xs") * period - col("_w7")).as("_dev"))
      .groupBy(col("_g").as("group"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("_dev")).as("sum_dev"))
      .select(col("group"), col("pos"), col("n"), col("sum_dev"),
        expr("sum_dev div n").as("avg_dev"))
  }

  /** Single change-point scan (max-CUSUM) — "WHERE did this series
    * break", the location the running [[cusum]] alarm doesn't give:
    * for each key's day-ordered series the statistic
    *
    * {{{ D_t = n·S_t − t·S_n   (S_t = Σ_{i≤t} x_i) }}}
    *
    * is n·t·(mean_{≤t} − mean_all) — an EXACT integer for integer
    * cents (widened to decimal(38,0) so n·S products can't wrap); the
    * change point is the t maximizing |D_t| over 1 ≤ t < n, earliest
    * day on ties (a max over (|D|, −day) structs — one aggregate, no
    * self-join). The segment-mean shift at the split is reported as
    * the exact RATIONAL (shift_num, shift_den) = ((S_n−S_t)·t −
    * S_t·(n−t), t·(n−t)) — no truncating division whose toward-zero /
    * toward-−∞ convention a comparator could trip on.
    *
    * Scale shape: one per-key window over the daily frame (days per
    * key, not rows), one aggregate. Keys with n < 2 drop (no interior
    * split exists). Output: (key, n, max_abs_d, at_day, shift_num,
    * shift_den).
    */
  def changePoint(df: DataFrame, keyCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = df.select(keyCol.as("_k"), dayCol.cast("long").as("_d"),
        centsCol.as("_x"))
      .where(col("_d").isNotNull && col("_x").isNotNull)
      .groupBy(col("_k"), col("_d")).agg(sum(col("_x")).as("_xs"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("_k"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val scored = daily
      .withColumn("_t", count(lit(1)).over(w))
      .withColumn("_st", sum(col("_xs")).over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_sn", sum(col("_xs")).over(wAll))
      .where(col("_t") < col("_n"))
      .select(col("_k"), col("_d"), col("_t"), col("_n"),
        (dec(col("_n")) * col("_st") - dec(col("_t")) * col("_sn"))
          .as("_dt"),
        ((dec(col("_sn")) - dec(col("_st"))) * col("_t") -
          dec(col("_st")) * (col("_n") - col("_t"))).as("_num"),
        (dec(col("_t")) * (col("_n") - col("_t"))).as("_den"))
    scored
      .groupBy(col("_k").as("key"))
      .agg(max(col("_n")).as("n"),
        max(struct(abs(col("_dt")).as("a"), (-col("_d")).as("nd"),
          col("_num").as("sn"), col("_den").as("sd"))).as("_best"))
      .select(col("key"), col("n"),
        col("_best.a").cast("long").as("max_abs_d"),
        (-col("_best.nd")).as("at_day"),
        col("_best.sn").cast("long").as("shift_num"),
        col("_best.sd").cast("long").as("shift_den"))
  }

  /** Per-group isotonic regression — pool-adjacent-violators over the
    * x-sorted (group, x) frame: the best monotone-non-decreasing fit
    * in least squares, THE probability-calibration primitive (map raw
    * scores to calibrated rates without assuming a parametric shape).
    * Ties on x pre-aggregate to (Σy, n); the PAV stack merges blocks
    * on EXACT violation tests (cross-multiplied BigInt sums — no
    * float compare can mis-merge), and each point's fitted value
    * lands as the exact ppm floor of its block mean.
    *
    * Cross-engine exactness rides the minimax identity
    * fit_i = max_{j≤i} min_{k≥i} mean(y_j..y_k) and the monotonicity
    * of floor under max/min: floor∘minimax == minimax∘floor, so a
    * SQL oracle can brute-force max-min over ppm-floored interval
    * means and hash-match PAV bit-for-bit.
    *
    * Shape: one (group, x) aggregate, then a sorted-group fold
    * (`flatMapSortedGroups`) with O(blocks) state — one shuffle on
    * the group key, linear work per group. Output:
    * (group, x, y, n, fitted_ppm).
    */
  def isotonicFit(df: DataFrame, groupCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.where(groupCol.isNotNull && xCol.isNotNull && yCol.isNotNull)
      .groupBy(groupCol.cast("string").as("_g"), xCol.cast("long").as("_x"))
      .agg(sum(yCol.cast("long")).as("_y"), count(lit(1)).as("_n"))
      .select(col("_g"), col("_x"), col("_y"), col("_n"))
    cells.groupByKey(_.getString(0))
      .flatMapSortedGroups(col("_x")) {
        (g: String, rows: Iterator[org.apache.spark.sql.Row]) =>
          val pts = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
            .toArray
          // PAV stack: (blockSum, blockWeight, firstPointIdx)
          val sumS = Array.ofDim[Long](pts.length)
          val wS = Array.ofDim[Long](pts.length)
          val startS = Array.ofDim[Int](pts.length)
          var top = -1
          var i = 0
          while (i < pts.length) {
            top += 1
            sumS(top) = pts(i)._2; wS(top) = 1L * pts(i)._3; startS(top) = i
            // merge while the previous block's mean EXCEEDS this one's
            // (exact: cross-multiplied BigInt — sums can pass 2^63)
            while (top > 0 &&
              BigInt(sumS(top - 1)) * wS(top) > BigInt(sumS(top)) * wS(top - 1)) {
              sumS(top - 1) += sumS(top)
              wS(top - 1) += wS(top)
              top -= 1
            }
            i += 1
          }
          val fitted = Array.ofDim[Long](pts.length)
          var b = 0
          while (b <= top) {
            val end = if (b == top) pts.length else startS(b + 1)
            val f = (BigInt(sumS(b)) * 1000000 / wS(b)).toLong
            var j = startS(b)
            while (j < end) { fitted(j) = f; j += 1 }
            b += 1
          }
          pts.indices.iterator.map(j =>
            (g, pts(j)._1, pts(j)._2, pts(j)._3, fitted(j)))
      }
      .toDF("group", "x", "y", "n", "fitted_ppm")
  }

  /** Hodges-Lehmann location estimator — the robust "center" the
    * median itself can't give (the median of a skewed sample ignores
    * magnitude; HL is the median of all pairwise Walsh averages
    * (x_i + x_j)/2 over i ≤ j, the estimator behind the Wilcoxon
    * signed-rank confidence interval, ~96% efficient at the normal
    * yet 29%-breakdown robust). Per group over the daily frame, the
    * SAME Σ m² pairwise envelope as [[theilSen]]; to stay integer the
    * DOUBLED averages x_i + x_j ride [[groupedExactQuantiles]] and
    * the result is reported as `hl_x2` = 2·HL (exact; halve at the
    * edge if a display value is wanted). Output: (group, n_pairs,
    * hl_x2).
    */
  def hodgesLehmann(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = CacheRegistry.persist(
      df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
          centsCol.as("_x"))
        .where(col("_d").isNotNull && col("_x").isNotNull)
        .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs")))
    val lo = daily.select(col("_g"), col("_d").as("_d1"), col("_xs").as("_x1"))
    val hi = daily.select(col("_g"), col("_d").as("_d2"), col("_xs").as("_x2"))
    val walsh = lo.join(hi, Seq("_g"))
      .where(col("_d1") <= col("_d2"))
      .select(col("_g"), (col("_x1") + col("_x2")).as("_w"))
    groupedExactQuantiles(walsh, col("_g"), col("_w"), Seq(0.5))
      .select(col("group"), col("n").as("n_pairs"), col("value").as("hl_x2"))
  }

  /** Mann-Kendall trend test — the nonparametric "is this series
    * actually drifting" companion to [[theilSen]]'s slope (same daily
    * per-group series, same pairwise envelope): S = Σ_{i<j}
    * sign(x_j − x_i) over day order, with the tie-corrected variance
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (t = tied-value
    * group sizes). S and 18·Var are exact integers (widened to
    * decimal(38,0) so the n³ product can't wrap); the z statistic
    * applies the usual continuity correction sign(S)·(|S|−1) and is
    * floored to micros after the one double sqrt — the
    * [[bootstrapMean]] discipline, comparator-proof.
    *
    * Scale shape: the pairwise join is per-GROUP over the daily
    * aggregate (the same Σ m_k² envelope theilSen accepts — days per
    * key, not rows); ties come from one bounded (group, value) count.
    * Output: (group, n, s, var18, z_micros); z null when Var = 0
    * (constant series or n < 2).
    */
  def mannKendall(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = CacheRegistry.persist(
      df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
          centsCol.as("_x"))
        .where(col("_d").isNotNull && col("_x").isNotNull)
        .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs")))
    val lo = daily.select(col("_g"), col("_d").as("_d1"), col("_xs").as("_x1"))
    val hi = daily.select(col("_g"), col("_d").as("_d2"), col("_xs").as("_x2"))
    val s = lo.join(hi, Seq("_g"))
      .where(col("_d1") < col("_d2"))
      .groupBy(col("_g"))
      .agg(sum(signum(col("_x2") - col("_x1")).cast("long")).as("s"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val nv = daily.groupBy(col("_g")).agg(count(lit(1)).as("n"))
      .select(col("_g"), col("n"),
        (dec(col("n")) * (col("n") - 1L) * (lit(2L) * col("n") + 5L)).as("_nn"))
    val ties = daily.groupBy(col("_g"), col("_xs")).agg(count(lit(1)).as("_t"))
      .groupBy(col("_g"))
      .agg(sum(dec(col("_t")) * (col("_t") - 1L) * (lit(2L) * col("_t") + 5L))
        .as("_tt"))
    nv.join(ties, Seq("_g")).join(s, Seq("_g"))
      .select(col("_g").as("group"), col("n"), col("s"),
        // exact in decimal; the long landing is fine for any per-group
        // series short of n ~ 2M days (n³ < 2⁶³)
        (col("_nn") - col("_tt")).cast("long").as("var18"))
      .withColumn("z_micros",
        when(col("var18") > 0,
          floor(signum(col("s")) * greatest(abs(col("s")) - 1L, lit(0L)) *
            lit(1000000.0d) /
            sqrt(col("var18").cast("double") / lit(18.0d))).cast("long")))
  }

  /** Seasonal Mann-Kendall — [[mannKendall]] hardened against
    * periodicity: a clean seasonal cycle reads as "trend" to plain MK
    * (every summer day beats every winter day), so the seasonal form
    * computes S and its variance WITHIN each season (month, weekday)
    * and sums them — only a drift that persists across same-season
    * comparisons survives. The hydrology-standard trend test, and the
    * right default for any daily business metric with a weekly or
    * yearly cycle.
    *
    * Exact integers: per-(group, season) S from sign counts over
    * same-season day pairs and the tie-corrected 18·Var (the
    * [[mannKendall]] core with a composite key), then ΣS and ΣVar
    * over seasons — additivity is the textbook construction (seasons
    * are disjoint comparison sets). One continuity-corrected z in
    * micros, same shape as the plain test. Pair work Σ_seasons
    * days_s², always ≤ the plain test's days². Output per group:
    * (group, n_seasons, n, s, var18, z_micros).
    */
  def seasonalMannKendall(df: DataFrame, groupCol: Column,
      seasonCol: Column, dayCol: Column, centsCol: Column): DataFrame = {
    val daily = CacheRegistry.persist(
      df.select(groupCol.as("_g"), seasonCol.cast("long").as("_q"),
          dayCol.cast("long").as("_d"), centsCol.as("_x"))
        .where(col("_q").isNotNull && col("_d").isNotNull &&
          col("_x").isNotNull)
        .groupBy(col("_g"), col("_q"), col("_d"))
        .agg(sum(col("_x")).as("_xs")))
    val lo = daily.select(col("_g"), col("_q"), col("_d").as("_d1"),
      col("_xs").as("_x1"))
    val hi = daily.select(col("_g"), col("_q"), col("_d").as("_d2"),
      col("_xs").as("_x2"))
    val s = lo.join(hi, Seq("_g", "_q"))
      .where(col("_d1") < col("_d2"))
      .groupBy(col("_g"), col("_q"))
      .agg(sum(signum(col("_x2") - col("_x1")).cast("long")).as("_s"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val nv = daily.groupBy(col("_g"), col("_q"))
      .agg(count(lit(1)).as("_n"))
      .select(col("_g"), col("_q"), col("_n"),
        (dec(col("_n")) * (col("_n") - 1L) * (lit(2L) * col("_n") + 5L))
          .as("_nn"))
    val ties = daily.groupBy(col("_g"), col("_q"), col("_xs"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_g"), col("_q"))
      .agg(sum(dec(col("_t")) * (col("_t") - 1L) *
        (lit(2L) * col("_t") + 5L)).as("_tt"))
    // left join: a single-day season has no pairs (S contributes 0)
    // but still counts toward n and n_seasons
    nv.join(ties, Seq("_g", "_q")).join(s, Seq("_g", "_q"), "left")
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_seasons"), sum(col("_n")).as("n"),
        sum(coalesce(col("_s"), lit(0L))).as("s"),
        sum((col("_nn") - col("_tt")).cast("long")).as("var18"))
      .select(col("_g").as("group"), col("n_seasons"), col("n"),
        col("s"), col("var18"))
      .withColumn("z_micros",
        when(col("var18") > 0,
          floor(signum(col("s")) * greatest(abs(col("s")) - 1L, lit(0L)) *
            lit(1000000.0d) /
            sqrt(col("var18").cast("double") / lit(18.0d))).cast("long")))
  }

  /** Theil-Sen robust trend: per group, the MEDIAN of all pairwise
    * slopes over the daily series — one wild outlier day can drag an
    * OLS fit anywhere, but moves the slope median not at all (the
    * estimator tolerates ~29% contamination). Slopes are exact
    * integer ppm (`Δcents·10⁶ div Δday`); the median comes from
    * [[groupedExactQuantiles]], so the whole path is
    * integer-deterministic.
    *
    * Scale note: pairs are per-group day², bounded by the calendar
    * span squared (≈ 10⁵ pairs per group for a year of days — flat
    * work, not data-scale work); the raw stream only feeds the
    * per-day aggregate. Output: (group, n_pairs, slope_ppm).
    */
  def theilSen(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
        centsCol.as("_x"))
      .where(col("_d").isNotNull && col("_x").isNotNull)
      .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs"))
      .transform(CacheRegistry.checkpoint(_))
    val lo = daily.select(col("_g"), col("_d").as("_d1"), col("_xs").as("_x1"))
    val hi = daily.select(col("_g"), col("_d").as("_d2"), col("_xs").as("_x2"))
    val slopes = lo.join(hi, Seq("_g"))
      .where(col("_d1") < col("_d2"))
      .select(col("_g"),
        expr("(_x2 - _x1) * 1000000 div (_d2 - _d1)").as("_slope"))
    groupedExactQuantiles(slopes, col("_g"), col("_slope"), Seq(0.5))
      .select(col("group"), col("n").as("n_pairs"),
        col("value").as("slope_ppm"))
  }

  /** Siegel repeated-median slope — [[theilSen]] hardened to the 50%
    * breakdown point (Theil-Sen breaks at ~29%): for each anchor day
    * the median slope to every OTHER day, then the median of those
    * per-anchor medians. A minority of wild days can poison at most
    * their own anchors' inner medians, never the outer one. Slopes
    * are the same exact integer ppm as theilSen ((x₂−x₁)·10⁶ div
    * (d₂−d₁) — the (i,j)/(j,i) spellings truncate identically, so
    * each unordered pair votes once per anchor); both median layers
    * ride [[groupedExactQuantiles]] (inner keyed by (group, anchor)
    * struct). Pairwise envelope: days² per group, twice the theilSen
    * frame. Output: (group, n_days, slope_ppm).
    */
  def siegelSlope(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = CacheRegistry.persist(
      df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
          centsCol.as("_x"))
        .where(col("_d").isNotNull && col("_x").isNotNull)
        .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs")))
    val lo = daily.select(col("_g"), col("_d").as("_d1"), col("_xs").as("_x1"))
    val hi = daily.select(col("_g"), col("_d").as("_d2"), col("_xs").as("_x2"))
    val slopes = lo.join(hi, Seq("_g"))
      .where(col("_d1") =!= col("_d2"))
      .select(col("_g"), col("_d1"),
        expr("(_x2 - _x1) * 1000000 div (_d2 - _d1)").as("_s"))
    val inner = groupedExactQuantiles(slopes,
        struct(col("_g").as("g"), col("_d1").as("d")), col("_s"), Seq(0.5))
      .select(col("group.g").as("_g"), col("value").as("_m"))
    groupedExactQuantiles(inner, col("_g"), col("_m"), Seq(0.5))
      .select(col("group"), col("n").as("n_days"),
        col("value").as("slope_ppm"))
  }

  /** Sequence negative log-likelihood under the corpus's own bigram
    * transition model — "how surprising is this user's event stream
    * given how everyone behaves": NLL = Σ_steps ln(n_a / n_ab) where
    * n_ab / n_a is the MLE P(b|a) over the whole corpus. High avg_nll
    * = bots, broken instrumentation, or genuinely novel behavior —
    * the sequence-level anomaly screen beside the value-level
    * [[rollingZscore]].
    *
    * Exactness: every observed step has n_ab ≥ 1 (the model is fit on
    * the same corpus — no zero-prob terms by construction); per-step
    * ln terms are rounded to 6dp DECIMAL and summed exactly, one
    * IEEE division for the average. Scale: the per-key `lead` window
    * is the only row-scale shuffle; the bigram/unigram count frames
    * are bounded by |vocabulary|² and broadcast back. Output:
    * (key, n_steps, nll, avg_nll).
    */
  def sequenceNll(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      tokenCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val pairs = df.select(keyCol.as("_k") +: tokenCol.as("_a") +: orderBy: _*)
      .where(col("_a").isNotNull)
      .withColumn("_b", lead(col("_a"), 1).over(w))
      .where(col("_b").isNotNull)
      .select(col("_k"), col("_a"), col("_b"))
    val bi = pairs.groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_nab"))
    val uni = bi.groupBy(col("_a")).agg(sum(col("_nab")).as("_na"))
    val term = round(log(col("_na").cast("double") / col("_nab").cast("double")), 6)
      .cast("decimal(18,6)")
    pairs
      .join(broadcast(bi), Seq("_a", "_b"))
      .join(broadcast(uni), Seq("_a"))
      .groupBy(col("_k").as("key"))
      .agg(count(lit(1)).as("n_steps"), sum(term).as("_s"))
      .select(col("key"), col("n_steps"),
        round(col("_s").cast("double"), 6).as("nll"),
        round(col("_s").cast("double") / col("n_steps").cast("double"), 6)
          .as("avg_nll"))
  }

  /** Kaplan-Meier survival curve with right-censoring — "what share
    * of users have NOT yet converted/churned by time t, given that
    * many are still being observed" (the estimator that makes
    * incomplete observation windows honest; a naive conversion rate
    * over-counts early cohorts).
    *
    * Input: one row per subject, `durationCol` (integer time units)
    * and `eventCol` (1 = event observed, 0 = censored at that time).
    * At each distinct t: n_t (at risk), d_t (events), c_t (censored),
    * S(t) = Π_{s≤t} (1 − d_s/n_s).
    *
    * Determinism + scale in one design: the cumulative PRODUCT is
    * computed in log space as an exact integer sum — each factor's
    * ln(1 − d/n) is rounded to micro-nats (×10⁶, the house
    * fixed-point idiom), then both the at-risk depletion AND the
    * log-sum ride [[Relational.prefixSum]] passes over the
    * per-duration frame (bounded by DISTINCT durations, never
    * subjects; no no-partition window anywhere). One exp at the very
    * end. A time point where everyone remaining dies (d = n) would be
    * ln 0 — flagged via a cumulated indicator instead, and survival
    * reads exactly 0.0 from there on. Output: (t, n_risk, d, c,
    * survival).
    */
  def kaplanMeier(df: DataFrame, durationCol: Column, eventCol: Column): DataFrame = {
    val terms = riskFrame(df, durationCol, eventCol)
      .withColumn("_term",
        when(col("_d") > 0 && col("_d") < col("_nr"),
          expr("CAST(round(ln(1.0 - CAST(_d AS DOUBLE) / CAST(_nr AS DOUBLE)) * 1000000) AS BIGINT)"))
          .otherwise(0L))
      .withColumn("_dead", when(col("_d") >= col("_nr"), 1L).otherwise(0L))
    Relational.prefixSums(terms, Seq(col("_t")),
        Seq(col("_term") -> "_cumlog", col("_dead") -> "_cumdead"))
      .select(col("_t").as("t"), col("_nr").as("n_risk"), col("_d").as("d"),
        col("_c").as("c"),
        when(col("_cumdead") > 0, lit(0.0))
          .otherwise(round(exp(col("_cumlog").cast("double") / lit(1000000.0)), 6))
          .as("survival"))
  }

  /** The shared at-risk frame behind [[kaplanMeier]] and
    * [[nelsonAalen]]: per distinct duration t, the event count d,
    * censor count c, and the number still at risk just before t
    * (n − those removed earlier), via one per-duration aggregate and
    * one [[Relational.prefixSum]] pass — never a one-task window.
    */
  private def riskFrame(df: DataFrame, durationCol: Column,
      eventCol: Column): DataFrame = {
    // persist the narrow (t, e) projection: BOTH consumers below (the
    // per-duration aggregate and the subject count) otherwise re-run
    // the caller's whole subject-derivation pipeline — no
    // ReusedExchange fires across separate aggregates (the r16
    // shared-leg rule); two longs per subject, bounded by |subjects|
    val base = CacheRegistry.persist(
      df.select(durationCol.cast("long").as("_t"),
          eventCol.cast("long").as("_e"))
        .where(col("_t").isNotNull && col("_e").isNotNull))
    val agg = base.groupBy(col("_t"))
      .agg(sum(col("_e")).as("_d"), sum(lit(1L) - col("_e")).as("_c"))
    val n = base.agg(count(lit(1)).as("_n"))
    Relational.prefixSum(agg, Seq(col("_t")),
        col("_d") + col("_c"), "_cumrem")
      .crossJoin(broadcast(n))
      .withColumn("_nr", col("_n") - col("_cumrem") + col("_d") + col("_c"))
  }

  /** Restricted mean survival time — the AREA under [[kaplanMeier]]
    * up to a horizon τ: "average seconds survived in the first τ",
    * the one-number summary that stays defined under heavy censoring
    * (the median survival time may never be reached; RMST always is)
    * and differences cleanly between arms. The retention readout a
    * "mean time to churn" claim actually needs.
    *
    * Deterministic construction: the KM step function's ROUNDED 6dp
    * survival values (bit-identical on both engines) × exact integer
    * interval lengths clipped at τ, as decimal term sums — next step
    * time via the rank+1 hash join (no lead window), plus the [0,
    * first-step) interval at S = 1. Output one row:
    * (tau, n, rmst) — rmst null when there are no subjects.
    */
  def rmst(df: DataFrame, durationCol: Column, eventCol: Column,
      tau: Long): DataFrame = {
    require(tau > 0, s"rmst: tau must be > 0, got $tau")
    // persist the narrow subject projection: the KM curve and the
    // subject count below otherwise each re-run the caller's whole
    // derivation pipeline (third run counting riskFrame's own n)
    val subj = CacheRegistry.persist(df.select(durationCol.as("_dur"), eventCol.as("_ev")))
    val km = CacheRegistry.persist(
      kaplanMeier(subj, col("_dur"), col("_ev"))
        .select(col("t"), col("survival")))
    val meta = km.agg(min(col("t")).as("_t0"))
    val n = subj.where(col("_dur").isNotNull && col("_ev").isNotNull)
      .agg(count(lit(1)).as("n"))
    val ranked = CacheRegistry.persist(
      Relational.prefixSum(km.where(col("t") < tau), Seq(col("t")),
        lit(1L), "_rk"))
    val nxt = ranked.select((col("_rk") - 1L).as("_rk"), col("t").as("_tn"))
    val steps = ranked.join(nxt, Seq("_rk"), "left")
      .select(col("survival"),
        (least(coalesce(col("_tn"), lit(tau)), lit(tau)) - col("t"))
          .as("_dt"))
      .where(col("_dt") > 0)
      .agg(coalesce(sum(col("survival").cast("decimal(18,6)") * col("_dt")),
        lit(0L).cast("decimal(38,6)")).as("_area"))
    n.crossJoin(broadcast(meta)).crossJoin(broadcast(steps))
      .select(lit(tau).as("tau"), col("n"),
        when(col("n") > 0L,
          round((least(coalesce(col("_t0"), lit(tau)), lit(tau))
              .cast("decimal(38,6)") + col("_area")).cast("double"), 6))
          .as("rmst"))
  }

  /** Nelson-Aalen cumulative hazard — [[kaplanMeier]]'s additive
    * sibling (KM multiplies survival factors; NA sums hazard
    * increments d_i/n_i, the better-behaved estimator at small risk
    * sets and the one additive over time intervals):
    *
    * {{{ H(t) = Σ_{t_i ≤ t} d_i / n_i }}}
    *
    * Each increment lands as the exact integer floor d·10⁶ div n_r
    * (so `hazard_ppm` is the sum of per-term floors — deterministic
    * on any engine, no transcendental anywhere), cumulated on the
    * same [[Relational.prefixSum]] pass and at-risk frame KM rides.
    * Output: (t, n_risk, d, c, hazard_ppm).
    */
  def nelsonAalen(df: DataFrame, durationCol: Column,
      eventCol: Column): DataFrame = {
    val terms = riskFrame(df, durationCol, eventCol)
      .withColumn("_term",
        when(col("_nr") > 0, expr("_d * 1000000 div _nr")).otherwise(0L))
    Relational.prefixSum(terms, Seq(col("_t")), col("_term"), "_cumh")
      .select(col("_t").as("t"), col("_nr").as("n_risk"), col("_d").as("d"),
        col("_c").as("c"), col("_cumh").as("hazard_ppm"))
  }

  /** Log-rank test — "do these two arms have the same survival
    * curve", the hypothesis test beside [[kaplanMeier]]'s estimate:
    * at each distinct event time, the observed arm-A deaths are
    * compared to the expectation under equal hazards,
    *
    * {{{ E_A = Σ_t d_t·n_At/n_t,   V = Σ_t d_t·n_At·n_Bt·(n_t−d_t) / (n_t²·(n_t−1)) }}}
    *
    * and χ² = (O_A − E_A)²/V. Every per-time term lands as an exact
    * integer ppm floor (decimal(38,0) products — d·n_A·n_B·(n−d)·10⁶
    * overflows int64 at ~40k subjects), the sums are exact, and the
    * final χ²_ppm is one integral div of the summed floors — the same
    * convention as [[nelsonAalen]], deterministic on any engine.
    * Times with n ≤ 1 or d = 0 contribute nothing (their true terms
    * are 0). `inA` must be non-null; censoring rides `eventCol` = 0.
    *
    * Shape: one per-(time) aggregate carrying both arms' d/c counts,
    * ONE [[Relational.prefixSums]] pass for both at-risk curves, one
    * 1-row summary. Output:
    * (n_a, n_b, o_a, e_a_ppm, v_ppm, chi2_ppm) — χ² null when V = 0.
    */
  def logRank(df: DataFrame, durationCol: Column, eventCol: Column,
      inA: Column): DataFrame = {
    val base = df.select(durationCol.cast("long").as("_t"),
        eventCol.cast("long").as("_e"), inA.cast("boolean").as("_a"))
      .where(col("_t").isNotNull && col("_e").isNotNull && col("_a").isNotNull)
    val agg = base.groupBy(col("_t")).agg(
      sum(when(col("_a"), col("_e")).otherwise(0L)).as("_da"),
      sum(when(col("_a"), lit(1L) - col("_e")).otherwise(0L)).as("_ca"),
      sum(when(!col("_a"), col("_e")).otherwise(0L)).as("_db"),
      sum(when(!col("_a"), lit(1L) - col("_e")).otherwise(0L)).as("_cb"))
    val n = base.agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("_na0"),
      sum(when(!col("_a"), 1L).otherwise(0L)).as("_nb0"))
    val risk = Relational.prefixSums(agg, Seq(col("_t")),
        Seq((col("_da") + col("_ca")) -> "_cra", (col("_db") + col("_cb")) -> "_crb"))
      .crossJoin(broadcast(n))
      .withColumn("_nat", col("_na0") - col("_cra") + col("_da") + col("_ca"))
      .withColumn("_nbt", col("_nb0") - col("_crb") + col("_db") + col("_cb"))
      .withColumn("_nt", col("_nat") + col("_nbt"))
      .withColumn("_dt", col("_da") + col("_db"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val terms = risk.select(col("_na0"), col("_nb0"), col("_da"),
      when(col("_nt") > 1L && col("_dt") > 0L,
        (dec(col("_dt")) * col("_nat") * 1000000L).as("en"))
        .otherwise(lit(0)).as("_en"),
      when(col("_nt") > 1L && col("_dt") > 0L, dec(col("_nt")))
        .otherwise(lit(1)).as("_ed"),
      when(col("_nt") > 1L && col("_dt") > 0L,
        dec(col("_dt")) * col("_nat") * col("_nbt") *
          (col("_nt") - col("_dt")) * 1000000L)
        .otherwise(lit(0)).as("_vn"),
      when(col("_nt") > 1L && col("_dt") > 0L,
        dec(col("_nt")) * col("_nt") * (col("_nt") - 1L))
        .otherwise(lit(1)).as("_vd"))
    terms
      .select(col("_na0"), col("_nb0"), col("_da"),
        expr("_en div _ed").as("_et"), expr("_vn div _vd").as("_vt"))
      .agg(first(col("_na0")).as("n_a"), first(col("_nb0")).as("n_b"),
        sum(col("_da")).as("o_a"), sum(col("_et")).as("e_a_ppm"),
        sum(col("_vt")).as("v_ppm"))
      .select(col("n_a"), col("n_b"), col("o_a"), col("e_a_ppm"), col("v_ppm"),
        ((dec(col("o_a")) * 1000000L - col("e_a_ppm")) *
          (dec(col("o_a")) * 1000000L - col("e_a_ppm"))).as("_cn"))
      .select(col("n_a"), col("n_b"), col("o_a"), col("e_a_ppm"), col("v_ppm"),
        when(col("v_ppm") > 0L, expr("_cn div v_ppm")).as("chi2_ppm"))
  }

  /** Funnel latency: per user, the time from the FIRST `fromFilter`
    * event to the first `toFilter` event at-or-after it — the
    * time-to-convert distribution behind every activation metric.
    * Returns (key, from_us, to_us, delay_s) for converting users only;
    * feed the frame to [[exactQuantiles]] for the p50/p90 readout.
    *
    * Shape: one filtered aggregate per leg (both map-side combined to
    * |users| rows), one equi-join on user + a range predicate the
    * optimizer evaluates post-join on the |users|-bounded frame — the
    * raw event stream is scanned twice and never shuffled wider than
    * user cardinality. Delays are exact integer seconds (non-negative
    * by construction, so `div` truncation == floor).
    */
  def timeToConvert(df: DataFrame, userCol: Column, tsCol: Column,
      fromFilter: Column, toFilter: Column): DataFrame = {
    val us = unix_micros(tsCol.cast("timestamp"))
    val from = df.where(fromFilter)
      .groupBy(userCol.as("_k")).agg(min(us).as("from_us"))
    val to = df.where(toFilter).select(userCol.as("_k"), us.as("_tus"))
    from.join(to, Seq("_k"))
      .where(col("_tus") >= col("from_us"))
      .groupBy(col("_k").as("key"), col("from_us"))
      .agg(min(col("_tus")).as("to_us"))
      .select(col("key"), col("from_us"), col("to_us"),
        expr("(to_us - from_us) div 1000000").as("delay_s"))
  }

  /** Per-group exact quantiles — [[exactQuantiles]] partitioned: for
    * each group, the smallest value whose group-CDF reaches ⌈p·n⌉.
    * The per-segment latency / per-language length readout ("p99 BY
    * endpoint") that a global quantile hides.
    *
    * Shape: one count aggregate to the (group, value) frame, then a
    * PER-GROUP cumulative window — bounded by each group's DISTINCT
    * values, never its row count (the global variant needs the
    * prefix-sum primitive precisely because it has no partition key;
    * here the partitioning is the point). The group total rides the
    * same exchange as the running sum, and ALL probs resolve in one
    * conditional-min aggregate — no per-prob join or union. One row
    * per group × prob. Output: (group, p, value, n).
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: Column, valueCol: Column,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"groupedExactQuantiles: probs must be in (0,1], got $probs")
    val counts = df.where(valueCol.isNotNull)
      .groupBy(groupCol.as("_g"), valueCol.as("_v")).agg(count(lit(1)).as("_c"))
    val one = cellQuantiles(counts, probs)
    val pv = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), col(s"_q$i").as("value"))
    }
    one.select(col("_g").as("group"), explode(array(pv: _*)).as("_pv"),
        col("_n").as("n"))
      .select(col("group"), col("_pv.p").as("p"), col("_pv.value").as("value"),
        col("n"))
  }

  /** Per-group WEIGHTED exact quantiles — the exposure-weighted form
    * of [[groupedExactQuantiles]]: the smallest value whose cumulative
    * WEIGHT reaches ⌈p·W⌉ (integer weights — cents, counts, bytes).
    * "The revenue-weighted median order size" is this with weight =
    * price; the unweighted call is the special case weight ≡ 1.
    * Same bounded cell-frame shape: weights pre-aggregate per (group,
    * value), so the CDF window still sees the value domain, not rows.
    * Output: (group, p, value, w) with w the group's total weight.
    */
  def groupedWeightedQuantiles(df: DataFrame, groupCol: Column,
      valueCol: Column, weightCol: Column, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"groupedWeightedQuantiles: probs must be in (0,1], got $probs")
    val cells = df
      .where(valueCol.isNotNull && weightCol.isNotNull && weightCol > 0)
      .groupBy(groupCol.as("_g"), valueCol.as("_v"))
      .agg(sum(weightCol.cast("long")).as("_c"))
    val one = cellQuantiles(cells, probs)
    val pv = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), col(s"_q$i").as("value"))
    }
    one.select(col("_g").as("group"), explode(array(pv: _*)).as("_pv"),
        col("_n").as("w"))
      .select(col("group"), col("_pv.p").as("p"), col("_pv.value").as("value"),
        col("w"))
  }

  /** Circular concentration of event times (Rayleigh test) — is
    * activity CLUMPED at a time of day or spread around the clock?
    * A linear histogram can't answer this (23:00 and 01:00 look far
    * apart); mapping hours to unit-circle angles makes "2 hours
    * apart" mean the same thing everywhere. R̄ = |Σe^(iθ)|/n is the
    * concentration (1 = single spike, 0 = uniform), z = n·R̄² the
    * Rayleigh statistic with the z > ln20 ≈ 2.995732 fence for 5%
    * (p ≈ e^(−z)) — the circadian-pattern detector for "is this
    * bot-regular or human-spread".
    *
    * Cross-engine determinism: the 24 hour angles' cos/sin are
    * computed ONCE in the JVM and embedded as literal CASE arms in
    * BOTH engines' expressions (the libm-constant discipline —
    * engine trig never runs on data); per-hour terms are
    * 6dp-rounded decimal summands (order-proof; the uniform clock
    * cancels to EXACT zero at 6dp), and R̄/z are one IEEE shape each
    * off the exact sums. Shape: one (group, hour) aggregate (≤ 24
    * cells per group), one closing row per group. Output:
    * (group, n, rbar, z, sig_95).
    */
  def circularStats(df: DataFrame, groupCol: Column,
      hourCol: Column): DataFrame = {
    val cosCase = (0 until 24).map(h =>
      s"WHEN $h THEN CAST(${math.cos(2.0 * math.Pi * h / 24.0)} AS DOUBLE)")
      .mkString("CASE _h ", " ", " END")
    val sinCase = (0 until 24).map(h =>
      s"WHEN $h THEN CAST(${math.sin(2.0 * math.Pi * h / 24.0)} AS DOUBLE)")
      .mkString("CASE _h ", " ", " END")
    val cells = df.where(groupCol.isNotNull && hourCol.isNotNull)
      .groupBy(groupCol.as("_g"), hourCol.cast("long").as("_h"))
      .agg(count(lit(1)).as("_c"))
    val terms = cells.select(col("_g"), col("_c"),
      round(col("_c").cast("double") * expr(cosCase), 6)
        .cast("decimal(28,6)").as("_tc"),
      round(col("_c").cast("double") * expr(sinCase), 6)
        .cast("decimal(28,6)").as("_ts"))
    val sc = col("_sc").cast("double"); val ss = col("_ss").cast("double")
    val nD = col("n").cast("double")
    terms.groupBy(col("_g"))
      .agg(sum(col("_c")).as("n"),
        coalesce(sum(col("_tc")), lit(0L).cast("decimal(28,6)")).as("_sc"),
        coalesce(sum(col("_ts")), lit(0L).cast("decimal(28,6)")).as("_ss"))
      .select(col("_g").as("group"), col("n"),
        round(sqrt(sc * sc + ss * ss) / nD, 6).as("rbar"),
        round((sc * sc + ss * ss) / nD, 6).as("z"))
      .withColumn("sig_95", col("z") > lit(2.995732d))
  }

  /** Bhattacharyya coefficient — the OVERLAP of two distributions on
    * a shared binning: BC = Σ√(pᵢqᵢ) ∈ [0,1], 1 identical, 0
    * disjoint. PSI and JS divergence measure how FAR apart two
    * histograms drifted; BC answers the dual question ("how much
    * probability mass do the arms share") and is the kernel under
    * Bhattacharyya distance and the Hellinger metric — the standard
    * drift/overlap readout when a bounded symmetric score is wanted.
    *
    * Determinism: per-bin counts are exact; each term is
    * round(√(aᵢ·bᵢ), 6) — the product is exact in int64 through
    * ~10²⁶ pairs·rows (cast to double < 2⁵³ for row-scale bins), the
    * sqrt is IEEE-deterministic, terms sum as decimals — closed by
    * ONE division by √(A·B), rounded 6dp. Missing bins contribute 0
    * (full outer join). Output one row: (n_a, n_b, n_bins, bc).
    */
  def bhattacharyya(df: DataFrame, armCol: Column, binCol: Column,
      armA: String, armB: String): DataFrame = {
    val cells = df.where(armCol.isNotNull && binCol.isNotNull &&
        (armCol === armA || armCol === armB))
      .groupBy(binCol.as("_b"))
      .agg(sum(when(armCol === armA, 1L).otherwise(0L)).as("_a"),
        sum(when(armCol === armB, 1L).otherwise(0L)).as("_c"))
    val terms = cells.agg(
      coalesce(sum(col("_a")), lit(0L)).as("n_a"),
      coalesce(sum(col("_c")), lit(0L)).as("n_b"),
      sum(when(col("_a") > 0L || col("_c") > 0L, 1L).otherwise(0L))
        .as("n_bins"),
      coalesce(sum(round(sqrt((col("_a") * col("_c")).cast("double")), 6)
        .cast("decimal(28,6)")), lit(0L).cast("decimal(28,6)")).as("_s"))
    terms.select(col("n_a"), col("n_b"), col("n_bins"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round(col("_s").cast("double") /
            sqrt((col("n_a") * col("n_b")).cast("double")), 6)).as("bc"))
      // Hellinger metric off the ROUNDED bc (bit-identical input both
      // engines); clamp guards the bc ≈ 1 + rounding-up edge
      .withColumn("hellinger",
        when(col("bc").isNotNull,
          round(sqrt(greatest(lit(1.0d) - col("bc"), lit(0.0d))), 6)))
  }

  /** Chatterjee's ξ correlation — detects ANY functional dependence,
    * not just monotone: Pearson and Spearman read y = x² on a
    * symmetric domain as ≈ 0; ξ converges to 1 whenever y is a
    * (noisy) function of x and to 0 under independence. The modern
    * screening statistic for "does this feature carry signal at all"
    * before committing to a model shape.
    *
    * The tie-general form, all exact integers:
    *
    * {{{ ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ ℓ_i(n − ℓ_i)) }}}
    *
    * with rows in (x, id) order (the id breaks x-ties
    * deterministically — ξ is defined under random tie-breaking; a
    * fixed break keeps both engines identical), r_i = #{y_j ≤ y_i}
    * off the y-CDF, ℓ_i = #{y_j ≥ y_i}. Consecutive rows meet by the
    * rank+1 hash join on a [[Relational.prefixSum]] rank — no lead
    * window. Emitted as signed xi_ppm (small negatives are normal at
    * independence); null when y is constant. Output one row:
    * (n, sum_dr, denom2, xi_ppm).
    *
    * EAGER-EVALUATION CONTRACT: unlike most operators here, this one
    * runs bounded distributed jobs AT DATAFRAME-BUILD TIME (the
    * range-sampled sort + the |partitions|-triple Σ|Δr| collect) and
    * freezes `sum_dr` into the returned plan as a literal. The frame
    * it returns is a cheap readout of that already-computed scalar:
    * re-executing it after the input changes returns the STALE total,
    * and even explain()/plan-dump triggers the real jobs. Callers
    * wanting the usual lazy-plan semantics must re-invoke the
    * operator, not re-execute its result.
    */
  def chatterjeeXi(df: DataFrame, idCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = CacheRegistry.persist(
      df.where(idCol.isNotNull && xCol.isNotNull && yCol.isNotNull)
        .select(idCol.as("_id"), xCol.cast("long").as("_x"),
          yCol.cast("long").as("_y")))
    val ycells = base.groupBy(col("_y")).agg(count(lit(1)).as("_c"))
    val n = base.agg(count(lit(1)).as("_n"))
    val ycdf = Relational.prefixSum(ycells, Seq(col("_y")), col("_c"),
        "_cum")
      .crossJoin(broadcast(n))
      .select(col("_y"), col("_c"), col("_n"), col("_cum").as("_r"),
        (col("_n") - col("_cum") + col("_c")).as("_l"))
    // Σ_rows ℓ(n−ℓ) = Σ_cells c·ℓ·(n−ℓ) — exact decimal
    val denom = ycdf.agg(first(col("_n")).as("n"),
      coalesce(sum(dec(col("_c")) * col("_l") * (col("_n") - col("_l"))),
        dec(lit(0L))).as("_d"))
    // order by (x, id, y): the caller's id may not be unique, and a
    // residual tie that still differs in y would make the rank walk
    // engine-dependent — adding y leaves only FULL ties, whose order
    // cannot move Σ|Δr| (equal r on both sides of the swap).
    //
    // Σ|r_{i+1} − r_i| needs CONSECUTIVE rows in that order — not the
    // ranks themselves — so instead of materializing a global rank
    // (a second prefixSum pass) and self-joining the frame against its
    // rank-shifted copy (two more full shuffles of |rows|), range-
    // partition + locally sort ONCE and take one narrow pass per
    // partition: the partition-local exact Σ|Δr| plus its first/last
    // ranks. |partitions| triples reach the driver (the prefixSums
    // offset discipline — bounded state) and the cross-partition
    // boundary deltas are added there. Equal sort keys share a range
    // partition, and full ties contribute |Δr| = 0 wherever they land,
    // so the total is partitioning-independent. Accumulation is exact
    // long with addExact — the readout below casts sum_dr to BIGINT
    // anyway, so an input large enough to overflow fails loudly here
    // instead of corrupting the cast.
    val ordered = base.join(ycdf.select(col("_y"), col("_r")), Seq("_y"))
      .repartitionByRange(col("_x"), col("_id"), col("_y"))
      .sortWithinPartitions(col("_x"), col("_id"), col("_y"))
      .select(col("_r").cast("long").as("_r"))
    val sess = ordered.sparkSession
    import sess.implicits._
    val partStats = ordered.as[Long].rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var prev = it.next(); val first = prev; var acc = 0L
        while (it.hasNext) {
          val cur = it.next()
          acc = Math.addExact(acc, Math.abs(cur - prev)); prev = cur
        }
        Iterator.single((pid, acc, first, prev))
      }
    }.collect().sortBy(_._1) // bounded: one row per non-empty partition
    val sdrTotal = partStats.foldLeft((0L, Option.empty[Long])) {
      case ((acc, lastPrev), (_, local, first, last)) =>
        val withBoundary = lastPrev match {
          case Some(lp) => Math.addExact(acc, Math.abs(first - lp))
          case None => acc
        }
        (Math.addExact(withBoundary, local), Some(last))
    }._1
    denom
      .select(col("n"), lit(sdrTotal).as("sum_dr"),
        (lit(2L) * col("_d")).cast("decimal(38,0)").as("denom2"))
      .withColumn("xi_ppm",
        when(col("denom2") > 0,
          lit(1000000L) - expr("""CAST((CAST(n AS DECIMAL(38,0)) * sum_dr
            * 1000000) div denom2 AS BIGINT)""")))
      .select(col("n"), col("sum_dr"),
        col("denom2").cast("long").as("denom2"), col("xi_ppm"))
  }

  /** Decile gains/lift table — the CAMPAIGN view of a score that
    * [[aucRankSum]] (ranking quality) and [[f1Sweep]] (one operating
    * point) don't give: sort by score descending, split into 10
    * equal-population deciles, and report each decile's positive
    * capture and lift. "The top decile holds 4× its share of
    * positives, the top three hold 80%" is the sentence a targeting /
    * data-selection budget decision actually runs on.
    *
    * Exact integers: rank by (−score, id) off ONE
    * [[Relational.prefixSums]] pass (no global window), decile =
    * (rank−1)·10 div N (exactly equal populations ±1), per-decile
    * counts, cumulative capture off a second prefix pass over the
    * 10-row frame, lift = pos·N·10⁶ div (n·P). Output 10 rows:
    * (decile, n, pos, cum_pos, cum_capture_ppm, lift_ppm); capture
    * null when P = 0.
    */
  def gainsTable(df: DataFrame, idCol: Column, labelCol: Column,
      scoreCol: Column): DataFrame = {
    val y = labelCol.cast("long")
    val base = df.where(idCol.isNotNull && labelCol.isNotNull &&
        scoreCol.isNotNull)
      .select(idCol.as("_id"), y.as("_y"),
        (-scoreCol.cast("long")).as("_ns"))
    // (score, id, label) order: a non-unique id that still ties after
    // the label would otherwise split a decile boundary differently
    // per engine; full ties are decile-invariant
    val ranked = Relational.prefixSum(base,
      Seq(col("_ns"), col("_id"), col("_y")), lit(1L), "_rank")
    val tot = ranked.agg(count(lit(1)).as("_N"),
      coalesce(sum(col("_y")), lit(0L)).as("_P"))
    val perDec = ranked.crossJoin(broadcast(tot))
      .groupBy(expr("(_rank - 1) * 10 div _N").as("decile"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"),
        first(col("_N")).as("_N"), first(col("_P")).as("_P"))
    Relational.prefixSum(perDec, Seq(col("decile")), col("pos"), "cum_pos")
      .select(col("decile"), col("n"), col("pos"), col("cum_pos"),
        when(col("_P") > 0L,
          expr("cum_pos * 1000000 div _P")).as("cum_capture_ppm"),
        when(col("_P") > 0L,
          // pos·N·10⁶ passes int64 at row scale — decimal numerator
          expr("""CAST(CAST(pos AS DECIMAL(38,0)) * _N * 1000000
            div (CAST(n AS DECIMAL(38,0)) * _P) AS BIGINT)"""))
          .as("lift_ppm"))
      .orderBy(col("decile"))
  }

  /** Exact F1 threshold sweep — the operating-point picker [[aucRankSum]]
    * deliberately isn't: AUC scores the RANKING; a deployed filter
    * needs ONE threshold, and the F1-optimal cut is the standard
    * pick for imbalanced accept/reject gates (quality filters, dup
    * classifiers). Every distinct score is a candidate threshold
    * (predict positive at score ≥ t).
    *
    * Exact integers: per-score (pos, neg) cells, suffix TP/FP off ONE
    * [[Relational.prefixSums]] pass (TP = P − prefix_exclusive), each
    * candidate's F1 = 2TP/(TP+FP+P) as a ppm floor (denominator ≥ 1
    * by construction — the threshold's own cell is non-empty), argmax
    * by (f1, smaller threshold) via one struct-max aggregate — no
    * sort of the sweep, no window. Output one row:
    * (n, p, best_threshold, tp, fp, f1_ppm, precision_ppm,
    * recall_ppm).
    */
  def f1Sweep(df: DataFrame, labelCol: Column, scoreCol: Column): DataFrame = {
    val y = labelCol.cast("long")
    val cells = df.where(labelCol.isNotNull && scoreCol.isNotNull)
      .groupBy(scoreCol.cast("long").as("_s"))
      .agg(sum(y).as("_pos"), sum(lit(1L) - y).as("_neg"))
    val cum = Relational.prefixSums(cells, Seq(col("_s")),
      Seq(col("_pos") -> "_cp", col("_neg") -> "_cn"))
    val tot = cells.agg(coalesce(sum(col("_pos")), lit(0L)).as("_P"),
      coalesce(sum(col("_neg")), lit(0L)).as("_N"))
    val best = cum.crossJoin(broadcast(tot))
      .withColumn("_tp", col("_P") - (col("_cp") - col("_pos")))
      .withColumn("_fp", col("_N") - (col("_cn") - col("_neg")))
      .withColumn("_f1", expr("_tp * 2 * 1000000 div (_tp + _fp + _P)"))
      .agg(max(struct(col("_f1").as("f"), (-col("_s")).as("nt"),
        col("_tp").as("tp"), col("_fp").as("fp"))).as("_m"),
        first(col("_P")).as("p"), first(col("_N")).as("_n0"))
    best.select((col("p") + col("_n0")).as("n"), col("p"),
        (-col("_m.nt")).as("best_threshold"), col("_m.tp").as("tp"),
        col("_m.fp").as("fp"), col("_m.f").as("f1_ppm"))
      .withColumn("precision_ppm",
        expr("tp * 1000000 div (tp + fp)"))
      .withColumn("recall_ppm",
        when(col("p") > 0, expr("tp * 1000000 div p")))
  }

  /** Top-k turnover — stability of the leaderboard over time: the
    * Jaccard overlap of each tick's top-k KEY SET against the
    * previous tick's. A ranking whose top-10 churns half its members
    * weekly is noise (or a fast-moving market); one that never moves
    * is stale. The set-level complement of [[rankBiasedOverlap]]'s
    * depth-weighted view, keyed by time — the standard "did the
    * heavy-hitter list actually change" monitor.
    *
    * Exact integers: per-tick top-k via [[Relational.topKPerGroup]]
    * (WindowGroupLimit pushes partial TopK below the shuffle;
    * deterministic (weight desc, key) order), consecutive ticks meet
    * by a +1-shifted self-join on the top frame (k·|ticks| rows —
    * tiny), Jaccard as one ppm floor. Ticks with no predecessor are
    * omitted (nothing to compare). Output per tick:
    * (tick, k_prev, k_cur, inter, jaccard_ppm).
    */
  def topkTurnover(df: DataFrame, tickCol: Column, keyCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"topkTurnover: k must be >= 1, got $k")
    val weekly = df.where(tickCol.isNotNull && keyCol.isNotNull &&
        weightCol.isNotNull)
      .groupBy(tickCol.cast("long").as("_t"), keyCol.as("_k"))
      .agg(sum(weightCol.cast("long")).as("_w"))
    val top = CacheRegistry.persist(
      Relational.topKPerGroup(weekly, Seq(col("_t")),
        Seq(col("_w").desc, col("_k")), k).select(col("_t"), col("_k")))
    val sizes = top.groupBy(col("_t")).agg(count(lit(1)).as("_n"))
    val prevSizes = sizes.select((col("_t") + 1L).as("_t"),
      col("_n").as("k_prev"))
    val inter = top
      .join(top.select((col("_t") + 1L).as("_t"), col("_k")),
        Seq("_t", "_k"), "left_semi")
      .groupBy(col("_t")).agg(count(lit(1)).as("_i"))
    sizes.join(prevSizes, Seq("_t"))
      .join(inter, Seq("_t"), "left")
      .select(col("_t").as("tick"), col("k_prev"), col("_n").as("k_cur"),
        coalesce(col("_i"), lit(0L)).as("inter"))
      .withColumn("jaccard_ppm",
        expr("inter * 1000000 div (k_prev + k_cur - inter)"))
      .orderBy(col("tick"))
  }

  /** CVaR / expected shortfall — the tail MEAN beyond the
    * p-quantile: the quantile says where the tail starts; CVaR says
    * how bad it is once you're in it ("p95 latency is 2s, but the
    * mean of the worst 5% is 9s" — the number an SLA budget or a
    * risk charge actually depends on). Quantile-only monitoring is
    * blind to exactly this.
    *
    * Exact integers: the per-group p-quantile off the
    * [[cellQuantiles]] CDF (smallest v with cum ≥ ⌈p·n⌉), the tail
    * as conditional sums over the SAME cell frame (v ≥ q — ties
    * included, the standard closed tail), one micros floor for the
    * mean. One row-scale groupBy + one broadcast quantile join — the
    * [[iqrOutliers]] fused single-scan discipline. Output per group:
    * (group, n, var_value, tail_n, cvar_micros) where cvar_micros =
    * tail_sum·10⁶ div tail_n (non-negative inputs assumed — values
    * are cents/ticks).
    */
  def cvar(df: DataFrame, groupCol: Column, valueCol: Column,
      p: Double = 0.95): DataFrame = {
    require(p > 0.0 && p < 1.0, s"cvar: p must be in (0,1), got $p")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .groupBy(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val q = cellQuantiles(cells, Seq(p))
      .select(col("_g"), col("_n"), col("_q0"))
    cells.join(broadcast(q), Seq("_g"))
      .groupBy(col("_g"))
      .agg(first(col("_n")).as("n"), first(col("_q0")).as("var_value"),
        sum(when(col("_v") >= col("_q0"), col("_c")).otherwise(0L))
          .as("tail_n"),
        coalesce(sum(when(col("_v") >= col("_q0"),
          dec(col("_v")) * col("_c"))), dec(lit(0L))).as("_ts"))
      .select(col("_g").as("group"), col("n"), col("var_value"),
        col("tail_n"),
        when(col("tail_n") > 0L,
          expr("CAST(_ts * 1000000 div tail_n AS BIGINT)"))
          .as("cvar_micros"))
  }

  /** Split-conformal calibration quantile — the distribution-free
    * prediction-interval radius: given held-out nonconformity scores
    * (|y − ŷ|, 1 − p_true, an anomaly score), q̂ is the
    * ⌈(n+1)(1−α)⌉-th smallest score, and "predict ± q̂" then covers
    * ≥ 1−α of future points with NO distributional assumption — the
    * finite-sample (n+1) correction is exactly what separates this
    * from a naive [[groupedExactQuantiles]] readout (and why small
    * groups honestly report null = "cannot certify this coverage"
    * when the rank exceeds n, instead of a too-tight radius).
    *
    * Exact integers: m = ⌈(n+1)(10⁶−α_ppm)/10⁶⌉ by ceil-div, q̂ the
    * conditional min over the per-group value-domain CDF (the
    * [[cellQuantiles]] shape — group total rides the same exchange).
    * Output per group: (group, n, m, qhat).
    */
  def conformalQuantile(df: DataFrame, groupCol: Column, scoreCol: Column,
      alphaPpm: Long): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L,
      s"conformalQuantile: alphaPpm must be in (0, 1e6), got $alphaPpm")
    val cells = df.where(groupCol.isNotNull && scoreCol.isNotNull)
      .groupBy(groupCol.as("_g"), scoreCol.cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val wc = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.partitionBy(col("_g"))
    val keepPpm = 1000000L - alphaPpm
    cells
      .withColumn("_cum", sum(col("_c")).over(wc))
      .withColumn("_n", sum(col("_c")).over(wa))
      .withColumn("_m",
        expr(s"((_n + 1) * ${keepPpm}L + 999999) div 1000000"))
      .groupBy(col("_g"))
      .agg(first(col("_n")).as("n"), first(col("_m")).as("m"),
        min(when(col("_cum") >= col("_m"), col("_v"))).as("qhat"))
      .select(col("_g").as("group"), col("n"), col("m"), col("qhat"))
  }

  /** CDF quantiles over a PRE-AGGREGATED (_g, _v, _c) cell frame — the
    * shared core of [[groupedExactQuantiles]], [[iqrOutliers]],
    * [[groupedWinsorizedMean]] and [[robustStats]]: callers that also
    * need a per-value pass (clamp sums, fence counts, deviations)
    * build the cell frame ONCE, reuse it here, and never rescan the
    * row-scale input. The group total rides the SAME exchange as the
    * cumulative sum (an unordered full-partition frame), so no
    * separate count aggregate, no join back, and every requested prob
    * resolves in ONE conditional-min pass — probs× plans collapsed to
    * one. Window input is bounded by the per-group value DOMAIN, not
    * row count. Returns one row per group: (_g, _n, _q0, _q1, …).
    */
  private[operators] def cellQuantiles(
      cells: DataFrame, probs: Seq[Double]): DataFrame = {
    val w = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("_g"))
    val cdf = cells
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
    val qAggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("_cum") >= ceil(lit(p) * col("_n")), col("_v"))).as(s"_q$i")
    }
    cdf.groupBy(col("_g"), col("_n")).agg(qAggs.head, qAggs.tail: _*)
  }

  /** Maximum interval overlap ("how many shipments/sessions/jobs were
    * open at once, and when did the peak first happen") — the
    * +1/−1 sweep-line: one delta per endpoint, per-instant delta
    * sums, then a GLOBAL running total via [[Relational.prefixSum]]
    * (the primitive makes the sweep distributed; a window spelling
    * collapses to one task). Intervals are half-open [start, end) —
    * an end and a start on the same instant do not overlap. Returns
    * one row: (max_concurrent, first_peak_t).
    */
  def maxConcurrency(df: DataFrame, startCol: Column, endCol: Column): DataFrame = {
    val deltas = df.select(startCol.cast("long").as("_t"), lit(1L).as("_d"))
      .unionAll(df.select(endCol.cast("long").as("_t"), lit(-1L).as("_d")))
      .where(col("_t").isNotNull)
      .groupBy(col("_t")).agg(sum(col("_d")).as("_dd"))
    val cum = Relational.prefixSum(deltas, Seq(col("_t")), col("_dd"), "_c")
    val m = cum.agg(max(col("_c")).as("max_concurrent"))
    cum.crossJoin(broadcast(m))
      .where(col("_c") === col("max_concurrent"))
      .groupBy(col("max_concurrent"))
      .agg(min(col("_t")).as("first_peak_t"))
  }

  /** Lorenz curve points — the concentration curve behind [[gini]]
    * (gini is its summary area; the curve says WHERE the inequality
    * lives): at each p, the exact share of total value held by the
    * smallest p·N rows. "The bottom 50% of orders carry 11% of
    * revenue" reads straight off a row.
    *
    * Same scale shape as [[exactQuantiles]]: per-value counts, then
    * BOTH running totals (count CDF and value mass) ride one
    * [[Relational.prefixSums]] pass; each requested p picks its tie
    * block with a min-struct aggregate and corrects the within-block
    * overshoot exactly — integers end-to-end, the share by DECIMAL
    * floor-div (long·10⁶ stays exact past 2⁶³). One row per p:
    * (p, rank, n, total, lorenz, share_ppm).
    */
  def lorenzCurve(df: DataFrame, valueCol: Column,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"lorenzCurve: probs must be in (0,1], got $probs")
    val counts = df.where(valueCol.isNotNull)
      .groupBy(valueCol.cast("long").as("_v")).agg(count(lit(1)).as("_c"))
    val cdf = Relational.prefixSums(counts, Seq(col("_v")),
      Seq(col("_c") -> "_cumc", (col("_v") * col("_c")) -> "_cumv"))
    // totals off the CACHED prefix frame: _cumc is strictly increasing
    // (counts >= 1) so its max row is the last — whose _cumv is the value
    // total whatever the sign of _v (a max over _cumv itself would not be)
    val totals = cdf.agg(max(col("_cumc")).as("_n"),
      expr("max_by(_cumv, _cumc)").as("_t"))
    // every p picks its boundary block in ONE conditional struct-min
    // pass (distinct _v makes the min land exactly on the block) — no
    // per-prob filter+aggregate plans
    val bAggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("_cumc") >= ceil(lit(p) * col("_n")),
        struct(col("_v"), col("_cumc"), col("_cumv")))).as(s"_b$i")
    }
    val one = cdf.crossJoin(broadcast(totals))
      .groupBy(col("_n"), col("_t")).agg(bAggs.head, bAggs.tail: _*)
    val pv = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"),
        ceil(lit(p) * col("_n")).cast("long").as("rank"),
        (col(s"_b$i._cumv") -
          (col(s"_b$i._cumc") - ceil(lit(p) * col("_n")).cast("long")) *
            col(s"_b$i._v")).as("lorenz"))
    }
    one.select(explode(array(pv: _*)).as("_pv"), col("_n").as("n"),
        col("_t").as("total"))
      .select(col("_pv.p").as("p"), col("_pv.rank").as("rank"), col("n"),
        col("total"), col("_pv.lorenz").as("lorenz"))
      .withColumn("share_ppm",
        expr("CAST(lorenz AS DECIMAL(38,0)) * 1000000 div total"))
  }

  /** Cramér's V association strength between two categorical columns
    * (0 = independent, 1 = determined) — the bounded companion of
    * [[mutualInfo]] (MI is unbounded, V is comparable across pairs).
    *
    * χ² over the FULL r×c grid without materializing zero cells: an
    * unobserved cell contributes (0−E)²/E = E, and Σ E over the grid
    * is N, so χ² = Σ_observed[(n−E)²/E − E] + N — the sum stays over
    * the observed cell frame only (|X|·|Y|-bounded like mutualInfo),
    * with the 6dp-DECIMAL term discipline for order-proof totals.
    * Returns one row: (n, r, c, chi2, cramers_v); V is null when
    * either column is constant (min(r−1, c−1) = 0).
    */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df
      .where(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val n = cells.agg(sum(col("n_xy")).as("_n"),
      count_distinct(col("x")).as("r"), count_distinct(col("y")).as("c"))
    val e = col("n_x").cast("double") * col("n_y").cast("double") /
      col("_n").cast("double")
    val nd = col("n_xy").cast("double")
    cells
      .join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("_n"), col("r"), col("c"),
        round(((nd - e) * (nd - e)) / e - e, 6)
          .cast("decimal(18,6)").as("_t"))
      .groupBy(col("_n"), col("r"), col("c"))
      .agg(round(sum(col("_t")).cast("double") + col("_n").cast("double"), 6)
        .as("chi2"))
      .select(col("_n").as("n"), col("r"), col("c"), col("chi2"))
      .withColumn("cramers_v",
        when(least(col("r"), col("c")) <= 1L, lit(null).cast("double"))
          .otherwise(round(sqrt(col("chi2") /
            (col("n").cast("double") *
              (least(col("r"), col("c")) - 1L).cast("double"))), 6)))
  }

  /** Shannon entropy of a categorical column (nats, plus the
    * 0..1 normalization by ln k) — the diversity half of a
    * mixture/balance audit, same determinism discipline as
    * [[mutualInfo]]: exact integer counts, 6dp DECIMAL term sums,
    * H = ln N − (Σ nₓ·ln nₓ)/N so ln is the only transcendental.
    * Nulls are excluded. One row: (n, k, entropy, entropy_norm).
    */
  def entropy(df: DataFrame, c: Column): DataFrame = {
    val counts = df.where(c.isNotNull).groupBy(c.as("_x"))
      .agg(count(lit(1)).as("_n"))
    counts
      .agg(
        sum(col("_n")).as("n"),
        count(lit(1)).as("k"),
        sum(round(col("_n").cast("double") * log(col("_n").cast("double")), 6)
          .cast("decimal(18,6)")).as("_s"))
      .select(
        col("n"), col("k"),
        round(log(col("n").cast("double")) -
          col("_s").cast("double") / col("n").cast("double"), 6).as("entropy"))
      .withColumn("entropy_norm",
        when(col("k") <= 1L, lit(0.0))
          .otherwise(round(col("entropy") / log(col("k").cast("double")), 6)))
  }

  /** Holt double-exponential smoothing (level + trend) — the
    * one-step-ahead forecaster [[ewma]] cannot be (EWMA lags any
    * trending series by construction; Holt's trend state removes the
    * lag):
    *
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1},   seed l₁ = x₁, b₁ = 0
    *
    * Same engine and contracts as [[ewma]]/[[cusum]]: one key
    * shuffle, sorted-group fold, O(1) two-double state, the exact
    * IEEE chains mirrored by a recursive-CTE oracle. The step is
    * [[Recurrences.holt]], shared with the stream twin
    * `graft.streaming.StreamHolt`. Null-key and null-id rows drop (the
    * ewma contract). Output: (id, key, level, trend,
    * forecast = level + trend).
    */
  def holt(
      df: DataFrame,
      key: Column,
      orderBy: Seq[Column],
      id: Column,
      value: Column,
      alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"holt: need 0 < alpha <= 1, got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"holt: need 0 <= beta <= 1, got $beta")
    import df.sparkSession.implicits._
    keyedOrderedFold(df, key, orderBy, id, value) { k =>
      val st = Recurrences.HoltState()
      (i, x, _) =>
        val (l, b, f) = Recurrences.holt(st, x, alpha, beta)
        (i, k, l, b, f)
    }.toDF("id", "key", "level", "trend", "forecast")
  }

  /** Holt-Winters additive triple smoothing — level + trend +
    * SEASONALITY, the member of the family ([[ewma]] → [[holt]] → this)
    * that can track a weekly rhythm instead of lagging through it.
    * Per key, in `orderBy` order with an EXPLICIT caller-supplied
    * season position (`pos`, wrapped into [0, period), so a negative
    * position counts back from the period's end):
    *
    * {{{
    * l' = α(x − s[pos]) + (1−α)(l + b)
    * b' = β(l' − l) + (1−β)b
    * s[pos]' = γ(x − l') + (1−γ)s[pos]
    * }}}
    *
    * Seed convention (pinned, engine-reproducible): the first value
    * seeds l = x, b = 0 and ALL seasonals at 0 — the model learns the
    * profile online rather than assuming a warm-up window. Rows with a
    * null key, id or pos drop; null values emit null rows and leave
    * state untouched ([[holt]]'s contract).
    * Same sorted-group fold engine: one key shuffle, O(period) state.
    * The step is [[Recurrences.holtWinters]], shared with the stream
    * twin `graft.streaming.StreamHoltWinters`.
    * Output: (id, key, level, trend, seasonal) — seasonal is s[pos]
    * AFTER the update.
    */
  def holtWinters(
      df: DataFrame,
      key: Column,
      orderBy: Seq[Column],
      id: Column,
      value: Column,
      pos: Column,
      period: Int,
      alpha: Double,
      beta: Double,
      gamma: Double): DataFrame = {
    require(period >= 2, s"holtWinters: period must be >= 2, got $period")
    require(alpha > 0.0 && alpha <= 1.0, s"holtWinters: need 0 < alpha <= 1, got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"holtWinters: need 0 <= beta <= 1, got $beta")
    require(gamma >= 0.0 && gamma <= 1.0, s"holtWinters: need 0 <= gamma <= 1, got $gamma")
    import df.sparkSession.implicits._
    keyedOrderedFold(df, key, orderBy, id, value, Some(pos)) { k =>
      val st = Recurrences.holtWintersState(period)
      (i, x, p) =>
        val (l, b, s) = Recurrences.holtWinters(st, x, p, alpha, beta, gamma)
        (i, k, l, b, s)
    }.toDF("id", "key", "level", "trend", "seasonal")
  }

  /** Frequent pairwise co-occurrence (market-basket / Apriori level-2):
    * item pairs that appear together in at least `minSupport` baskets,
    * with per-item counts and lift. The level-2 pass is where
    * association mining spends ~all its time at scale, so it's the one
    * worth a first-class operator.
    *
    * Scale shape: baskets are deduped to distinct (basket, item) rows,
    * then baskets larger than `maxBasketSize` are DROPPED before the
    * pair self-join — one pathological 10^5-item basket would
    * otherwise emit 10^10 pairs and take the stage down; the cap
    * bounds per-basket work at maxBasketSize². The capped basket frame
    * is eagerly `localCheckpoint`ed — it feeds the pair self-join
    * (twice) and the item-count aggregate, and downstream composition
    * (a triangle census over the pair graph) multiplies the consumer
    * count further; one materialization beats three replays of the
    * distinct+size pipeline (measured via [[graft.operators.Graph
    * .triangleCounts]]: 3.5 s → 2.0 s at sf0.1). The self-join shuffles
    * both sides on the basket key once (narrow (basket, item) rows,
    * not source rows) and the pair aggregate is a hash-agg with
    * map-side partials. `n_baskets` and lift are defined over the
    * pair-eligible universe (kept baskets with >= 2 items) so support,
    * item counts, and lift are mutually consistent.
    *
    * Lift = support·N / (n_a·n_b) as ONE IEEE double division of
    * exact bigint products (cross-engine exact while the products stay
    * under 2^53). Output: `item_a, item_b, support, n_a, n_b,
    * n_baskets, lift` with item_a < item_b.
    *
    * Null baskets and null items are excluded up front — a null item
    * can never satisfy the `<` pair predicate, so keeping it would
    * inflate basket sizes and item counts without ever pairing.
    */
  def cooccurrence(
      df: DataFrame,
      basketCol: Column,
      itemCol: Column,
      minSupport: Long = 2L,
      maxBasketSize: Int = 1024): DataFrame = {
    require(minSupport >= 1, s"cooccurrence: minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"cooccurrence: maxBasketSize must be >= 2, got $maxBasketSize")
    val items = df.select(basketCol.as("_b"), itemCol.as("_i"))
      .where(col("_b").isNotNull && col("_i").isNotNull).distinct()
    val sizes = items.groupBy(col("_b")).agg(count(lit(1)).as("_sz"))
      .where(col("_sz").between(2, maxBasketSize))
    val kept = CacheRegistry.checkpoint(items.join(sizes.select(col("_b")), Seq("_b")))
    // count baskets off the CHECKPOINTED frame: kept holds exactly the
    // baskets passing the size filter, so |distinct _b| = |sizes rows|
    // — deriving the 1-row total from `sizes` instead re-ran the whole
    // scan + distinct + size-aggregate subtree inside every consumer's
    // final action (the checkpoint cut kept's lineage, not sizes')
    val nBaskets = kept.agg(count_distinct(col("_b")).as("n_baskets"))
    val cnt = kept.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a._b") === col("b._b") && col("a._i") < col("b._i"))
      .groupBy(col("a._i").as("item_a"), col("b._i").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    pairs
      .join(cnt.select(col("_i").as("item_a"), col("_ci").as("n_a")), Seq("item_a"))
      .join(cnt.select(col("_i").as("item_b"), col("_ci").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"), col("n_baskets"),
        ((col("support") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Expanding (cumulative) DISTINCT count per key — "how many
    * distinct `valCol` values has this key seen so far", a window
    * shape neither Spark nor ANSI SQL expresses directly
    * (`COUNT(DISTINCT) OVER` is unsupported in Spark and quadratic
    * where it exists).
    *
    * Rewrite: mark each row's FIRST occurrence of (key, value) with a
    * `row_number` window, then running-`sum` the 0/1 flag over the
    * key's event order. Two windows, both partitioned by the key —
    * shuffle-compatible (one hash exchange on `keyCol` serves both;
    * no global sort, no per-row set state). Ordering must be made
    * total via `tieCols` (e.g. an event id) or the flag attribution
    * inside equal order values is nondeterministic.
    *
    * Adds `cum_distinct` to the input rows.
    */
  def expandingDistinct(df: DataFrame, keyCol: Column, valCol: Column,
      orderCol: Column, tieCols: Seq[Column] = Nil): DataFrame = {
    val order = (orderCol +: tieCols).map(_.asc)
    val wFirst = Window.partitionBy(keyCol, valCol).orderBy(order: _*)
    val wRun = Window.partitionBy(keyCol).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE exchange for both windows: hashpartitioning(key) satisfies the
    // first window's ClusteredDistribution(key, value) (subset rule) AND
    // the second's (key) — left to EnsureRequirements, the inner window
    // would instead exchange on (key, value) and the outer would have to
    // re-exchange on (key). Plan-shape pinned.
    df.repartition(keyCol)
      .withColumn("_is_first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("cum_distinct", sum(col("_is_first")).over(wRun))
      .drop("_is_first")
  }

  /** Theil T inequality index with its within/between decomposition —
    * what [[gini]] and the HHI can't say: WHERE the concentration
    * lives. Theil is the only standard inequality index that splits
    * EXACTLY into a between-groups term plus a weighted within-group
    * term (T = T_b + T_w), so one frame answers "is token volume
    * concentrated because a few SOURCES dominate, or because volume
    * is skewed inside every source":
    *
    * {{{ T      = Σ_i (x_i/X)·ln(n·x_i/X) }}}
    * {{{ T_b    = Σ_g (X_g/X)·ln((X_g·n)/(X·n_g)) }}}
    * {{{ T_w    = Σ_g (X_g/X)·T_g = Σ_i (x_i/X)·ln(n_g·x_i/X_g) }}}
    *
    * Determinism discipline: the corpus collapses to a
    * (group, value, count) cell frame (ONE row-scale shuffle); every
    * cell/group term is one fixed IEEE expression over exact
    * decimal(38,0) totals, rounded ONCE to 12dp DECIMAL (terms are
    * O(1/cells) — 6dp would truncate them; 12dp keeps 6 significant
    * digits at billion-cell scale) and summed exactly; the three
    * readouts round to 6dp. Zero values are excluded (x·ln x → 0).
    * Output one row: (n, k, theil_total, theil_between, theil_within)
    * — total = between + within up to the per-term rounding.
    */
  def theilIndex(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull &&
          valueCol.cast("long") > 0L)
        .groupBy(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val perGroup = cells.groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"), sum(dec(col("_v")) * col("_c")).as("_xg"))
    val tot = perGroup.agg(sum(col("_ng")).as("_n"),
      sum(col("_xg")).as("_x"), count(lit(1)).as("_k"))
    val d12 = (c: Column) => round(c, 12).cast("decimal(38,12)")
    val cellTerms = cells.join(perGroup, Seq("_g")).crossJoin(broadcast(tot))
      .select(
        d12(col("_c").cast("double") * col("_v").cast("double") /
          col("_x").cast("double") *
          log(col("_n").cast("double") * col("_v").cast("double") /
            col("_x").cast("double"))).as("_tt"),
        d12(col("_c").cast("double") * col("_v").cast("double") /
          col("_x").cast("double") *
          log(col("_ng").cast("double") * col("_v").cast("double") /
            col("_xg").cast("double"))).as("_tw"))
      .agg(sum(col("_tt")).as("_st"), sum(col("_tw")).as("_sw"))
    val betweenTerms = perGroup.crossJoin(broadcast(tot))
      .select(
        d12(col("_xg").cast("double") / col("_x").cast("double") *
          log(col("_xg").cast("double") * col("_n").cast("double") /
            (col("_x").cast("double") * col("_ng").cast("double"))))
          .as("_tb"))
      .agg(sum(col("_tb")).as("_sb"))
    tot.crossJoin(broadcast(cellTerms)).crossJoin(broadcast(betweenTerms))
      .select(col("_n").as("n"), col("_k").as("k"),
        round(col("_st").cast("double"), 6).as("theil_total"),
        round(col("_sb").cast("double"), 6).as("theil_between"),
        round(col("_sw").cast("double"), 6).as("theil_within"))
  }

  /** Gini concentration index of an integer measure over keys — "how
    * concentrated is revenue/traffic/token volume across suppliers/
    * domains/sources", the inequality summary next to a skew report.
    *
    * Over the per-key totals x₁ ≤ … ≤ xₙ (ties broken by key):
    *
    *   G = 2·Σ i·xᵢ / (n·Σxᵢ) − (n+1)/n
    *
    * Exact until the final division: per-key totals are one shuffle
    * (map-side partial), the global rank i comes from
    * [[Relational.globalIndex]] (a running count over
    * [[Relational.prefixSums]] — NEVER a single-partition window; the
    * ranked frame is |keys|, not |rows|), and Σi·xᵢ accumulates in
    * DECIMAL(38,0) (rank × total can pass 2^63). Returns one row:
    * (n_keys, sum_val, weighted_sum, gini).
    *
    * `valueCol` must be integral (cents, bytes, tokens) and
    * non-negative — Gini over negative totals is not defined here.
    */
  def gini(df: DataFrame, keyCol: Column, valueCol: Column): DataFrame = {
    val totals = df.groupBy(keyCol.as("_k"))
      .agg(sum(valueCol.cast("long")).as("_x"))
    Relational.globalIndex(totals, Seq(col("_x"), col("_k")), "_i")
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("_x")).as("sum_val"),
        sum(col("_i").cast("decimal(38,0)") * col("_x")).as("_w"))
      .select(
        col("n_keys"), col("sum_val"),
        col("_w").cast("double").as("weighted_sum"),
        round(
          (col("_w").cast("double") * 2.0) /
            (col("n_keys").cast("double") * col("sum_val").cast("double")) -
            (col("n_keys") + 1L).cast("double") / col("n_keys").cast("double"),
          6).as("gini"))
  }

  /** Mutual information between two categorical columns — the
    * dependence screen of a feature audit ("does source predict
    * language?"). Exact integer cell/marginal counts; each cell's
    * term nᵪᵧ·ln(nᵪᵧ·N / (nᵪ·nᵧ)) is rounded to 6 dp and summed as
    * DECIMAL(18,6), so the total is independent of accumulation
    * order (the [[Ranking.rankEval]] discipline — ln is the one
    * cross-engine-identical transcendental). Returns one row per
    * observed cell plus the corpus MI (nats, same on every row):
    * (x, y, n_xy, n_x, n_y, term, mi).
    *
    * Scale shape: one groupBy over (x,y) then two broadcast-able
    * marginal joins; the corpus total is a 1-row AGGREGATE of the
    * per-cell terms broadcast back onto the cell frame — "categorical"
    * is a promise the data may break (ids, urls), so no empty-
    * partition-spec window even on the cell frame.
    */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val n = cells.agg(sum(col("n_xy")).as("_n"))
    val terms = CacheRegistry.persist(
      cells
        .join(broadcast(mx), Seq("x"))
        .join(broadcast(my), Seq("y"))
        .crossJoin(broadcast(n))
        .withColumn("term",
          round(col("n_xy").cast("double") *
            log((col("n_xy").cast("double") * col("_n").cast("double")) /
              (col("n_x").cast("double") * col("n_y").cast("double"))), 6)
            .cast("decimal(18,6)")))
    // order-proof DECIMAL sum of the terms, same as the old window
    // total, but via a 1-row aggregate + broadcast — no one-task stage
    val total = terms.agg(sum(col("term")).as("_tsum"))
    terms.crossJoin(broadcast(total))
      .withColumn("mi",
        round(col("_tsum").cast("double") / col("_n").cast("double"), 6))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("term").cast("double").as("term"), col("mi"))
  }

  /** ROC AUC via the Mann-Whitney rank-sum identity — the standard
    * large-scale spelling (a sorted sweep, never the O(n²) pair
    * count): AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the sum of
    * the positives' MIDRANKS (ties share the average rank, the
    * convention that makes AUC equal P(score⁺ > score⁻) + ½P(=)).
    *
    * Shape: one hash-agg to per-score (count, positives) — the only
    * pass over the data — then ONE [[Relational.prefixSum]] over the
    * |distinct scores| frame gives every value's rank offset; midranks
    * are doubled (2·offset + c + 1) so everything stays in exact
    * bigints until the single final IEEE division. No global window,
    * no sort of raw rows. Returns one row: (n_pos, n_neg, auc).
    */
  def aucRankSum(df: DataFrame, labelCol: Column, scoreCol: Column): DataFrame = {
    val counts = df.where(scoreCol.isNotNull && labelCol.isNotNull)
      .groupBy(scoreCol.as("_s"))
      .agg(count(lit(1)).as("_c"),
        sum(labelCol.cast("long")).as("_p"))
    Relational.prefixSum(counts, Seq(col("_s")), col("_c"), "_cum")
      .agg(
        sum(col("_p")).as("n_pos"),
        sum(col("_c") - col("_p")).as("n_neg"),
        // Σ positives × (2·midrank): midrank of a value with c ties
        // starting after `cum − c` lower rows is offset + (c+1)/2.
        sum(col("_p") * (lit(2L) * (col("_cum") - col("_c")) + col("_c") + lit(1L)))
          .as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(round(
            (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
              (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
            6)).as("auc"))
  }

  /** Average precision (area under the precision-recall curve, the
    * ranking-quality companion to [[aucRankSum]]): rows are ranked by
    * `scoreCol` DESC with `tieCols` completing a total order, and
    * AP = (1/P) Σ_{positives} precision@rank.
    *
    * Scale + exactness in one move: the rank AND the cumulative-
    * positive count ride a single [[Relational.prefixSums]] pass
    * (range partition + one narrow sweep — never a no-partition
    * window), and each positive's precision@k is the exact fixed-point
    * integer cum·10¹² div k, summed in DECIMAL(38,0), then floored to
    * ppm — integer end-to-end, bit-identical across engines and
    * shuffle orders. Returns one row (n_rows, n_pos, ap_ppm) where
    * ap = ap_ppm / 10⁶.
    */
  def averagePrecision(df: DataFrame, labelCol: Column, scoreCol: Column,
      tieCols: Seq[Column]): DataFrame = {
    require(tieCols.nonEmpty,
      "averagePrecision: tieCols must complete a deterministic total order")
    val tieNames = tieCols.indices.map(i => s"_t$i")
    val base = df.select(scoreCol.as("_score") +: labelCol.cast("long").as("_y") +:
        tieCols.zip(tieNames).map { case (c, n) => c.as(n) }: _*)
      .where(col("_score").isNotNull && col("_y").isNotNull)
    val order = col("_score").desc +: tieNames.map(col(_).asc)
    Relational.prefixSums(base, order,
        Seq(col("_y") -> "_cumpos", lit(1L) -> "_rank"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("_y")).as("n_pos"),
        sum(when(col("_y") === 1L,
          expr("_cumpos * 1000000000000 div _rank")).otherwise(0L)
          .cast("decimal(38,0)")).as("_apn"))
      .select(col("n_rows"), col("n_pos"),
        // comparator-proof fixed point: AP in ppm, exact integer floor —
        // no double ever leaves the operator (ap = ap_ppm / 1e6)
        when(col("n_pos") > 0,
          expr("_apn div (n_pos * 1000000)")).as("ap_ppm"))
  }

  /** Mann-Whitney U — the exact nonparametric two-sample test closing
    * the family (Welch t = parametric, KS = distribution-shape, MW =
    * rank-shift): from the SAME midrank CDF machinery as
    * [[aucRankSum]], U₁ doubled into an exact integer (`u_x2` — with
    * ties U can be half-integral, so the 2× form stays in longs), plus
    * the rank-biserial effect size r = 2·AUC − 1. Same single
    * prefix-sum pass, no raw-row sort. Output: (n_pos, n_neg, u_x2,
    * rank_biserial).
    */
  def mannWhitney(df: DataFrame, labelCol: Column, scoreCol: Column): DataFrame = {
    val counts = df.where(scoreCol.isNotNull && labelCol.isNotNull)
      .groupBy(scoreCol.as("_s"))
      .agg(count(lit(1)).as("_c"),
        sum(labelCol.cast("long")).as("_p"))
    Relational.prefixSum(counts, Seq(col("_s")), col("_c"), "_cum")
      .agg(
        sum(col("_p")).as("n_pos"),
        sum(col("_c") - col("_p")).as("n_neg"),
        sum(col("_p") * (lit(2L) * (col("_cum") - col("_c")) + col("_c") + lit(1L)))
          .as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).as("u_x2"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(round(
            (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
              (col("n_pos").cast("double") * col("n_neg").cast("double")) - lit(1.0),
            6)).as("rank_biserial"))
  }

  /** Spearman rank correlation — the monotone-association companion of
    * the Pearson [[groupedCorrMatrix]]: Pearson computed on MIDRANKS,
    * so one wild outlier bends it no further than its rank. Each
    * variable's midranks come from its own prefix-sum CDF (doubled
    * into exact integers — ties make midranks half-integral — and
    * joined back by value: two bounded count frames, never a global
    * row window), then six DECIMAL(38,0) moment sums and one IEEE
    * shape produce ρ. Output: (n, rho).
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
      .transform(CacheRegistry.checkpoint(_))
    def ranks2(c: String): DataFrame = {
      val counts = base.groupBy(col(c).as("_v")).agg(count(lit(1)).as("_c"))
      Relational.prefixSum(counts, Seq(col("_v")), col("_c"), "_cum")
        .select(col("_v").as(c),
          (lit(2L) * (col("_cum") - col("_c")) + col("_c") + 1L).as(s"_r$c"))
    }
    val dec = (c: Column) => c.cast("decimal(38,0)")
    base.join(ranks2("_x"), Seq("_x")).join(ranks2("_y"), Seq("_y"))
      .agg(count(lit(1)).as("n"),
        sum(col("_r_x")).as("_sx"), sum(col("_r_y")).as("_sy"),
        sum(dec(col("_r_x")) * col("_r_y")).as("_sxy"),
        sum(dec(col("_r_x")) * col("_r_x")).as("_sxx"),
        sum(dec(col("_r_y")) * col("_r_y")).as("_syy"))
      .select(col("n"),
        when(col("n") < 3 ||
          (col("n") * col("_sxx") - col("_sx") * col("_sx")).cast("double") <= 0 ||
          (col("n") * col("_syy") - col("_sy") * col("_sy")).cast("double") <= 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
              (sqrt((col("n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
               sqrt((col("n") * col("_syy") - col("_sy") * col("_sy")).cast("double"))),
            6)).as("rho"))
  }

  /** Wilcoxon signed-rank — the PAIRED nonparametric test closing the
    * trio ([[abTest]] unpaired parametric, [[mannWhitney]] unpaired
    * rank, this one paired rank): feed the per-pair DIFFERENCES, zeros
    * drop (the standard convention), |d| midranks come from the same
    * prefix-sum CDF machinery, and W⁺ doubles into an exact integer
    * (`w_plus_x2` — ties make midranks half-integral). The matched-
    * pairs rank-biserial r = (W⁺ − W⁻)/(W⁺ + W⁻) is one final IEEE
    * division. Output: (n_pairs, w_plus_x2, rank_biserial).
    */
  def wilcoxonSignedRank(df: DataFrame, diffCol: Column): DataFrame = {
    val counts = df.select(diffCol.cast("long").as("_d"))
      .where(col("_d").isNotNull && col("_d") =!= 0L)
      .groupBy(abs(col("_d")).as("_a"))
      .agg(count(lit(1)).as("_c"),
        sum(when(col("_d") > 0L, 1L).otherwise(0L)).as("_p"))
    Relational.prefixSum(counts, Seq(col("_a")), col("_c"), "_cum")
      .agg(
        sum(col("_c")).as("n_pairs"),
        sum(col("_p") * (lit(2L) * (col("_cum") - col("_c")) + col("_c") + lit(1L)))
          .as("_r2"))
      .select(col("n_pairs"), col("_r2").as("w_plus_x2"),
        when(col("n_pairs") === 0L, lit(null).cast("double"))
          .otherwise(round(
            (lit(2L) * col("_r2") - col("n_pairs") * (col("n_pairs") + 1L))
              .cast("double") /
              (col("n_pairs") * (col("n_pairs") + 1L)).cast("double"), 6))
          .as("rank_biserial"))
  }

  /** Smoothed mean target encoding (the Micci-Barreca / CatBoost-style
    * category → E[y|cat] feature): enc = (Σy_cat + m·ȳ_global) /
    * (n_cat + m) — rare categories shrink toward the global mean
    * instead of memorizing noise. The INTEGER-ARITHMETIC contract
    * (cents in, floor-div out) keeps the encoding cross-engine
    * bit-exact: ȳ_global = Σ_total div n_total first, then one more
    * floor division per category.
    *
    * Shape: one hash-agg to |categories| rows, a 1-row global
    * broadcast, zero extra scans. Output: (category, n, mean_cents,
    * enc_cents).
    */
  def targetEncode(df: DataFrame, catCol: Column, centsCol: Column,
      m: Long = 20L): DataFrame = {
    require(m >= 0, s"targetEncode: smoothing m must be >= 0, got $m")
    val per = df.where(catCol.isNotNull && centsCol.isNotNull)
      .groupBy(catCol.as("category"))
      .agg(count(lit(1)).as("n"), sum(centsCol.cast("long")).as("_sum"))
    val g = per.agg(sum(col("n")).as("_nt"), sum(col("_sum")).as("_st"))
      .select(expr("_st div _nt").as("_gmean"))
    per.crossJoin(broadcast(g))
      .select(col("category"), col("n"),
        expr("_sum div n").as("mean_cents"),
        expr(s"(_sum + $m * _gmean) div (n + $m)").as("enc_cents"))
  }

  /** Deterministic half-sample bootstrap of a mean — the variance
    * readout behind every "is this aggregate stable" check, made
    * reproducible (and therefore oracle-checkable) by replacing the
    * RNG with an arithmetic inclusion rule: row `id` joins replicate
    * `b` iff ((id mod 1000003)·(b+17) + 31·b²) mod 97 < 48 — a
    * different ~49.5% half-sample per replicate, identical on any
    * engine with 64-bit integers (all intermediates ≤ ~10¹¹).
    *
    * Shape: explode×B (narrow — no shuffle), then ONE hash-agg keyed
    * by replicate with map-side partials, so the shuffle carries B
    * rows regardless of input size; the replicate-spread summary is a
    * second B-row agg. Exact integer replicate means (floor-div
    * cents); the spread is reported as `std_micros` =
    * ⌊10⁶·√(sample variance of the B means)⌋ — the variance numerator
    * b·Σm² − (Σm)² is exact DECIMAL(38,0) (matching DuckDB's HUGEINT;
    * plain int64 wraps once means exceed ~5e8 cents), and the one
    * sqrt runs on identical doubles, so the floor is comparator-proof.
    * Output: (b, mean_of_means_cents, lo_cents, hi_cents, std_micros).
    */
  def bootstrapMean(df: DataFrame, idCol: Column, centsCol: Column,
      replicates: Int = 32): DataFrame = {
    require(replicates >= 2 && replicates <= 256,
      s"bootstrapMean: replicates must be in [2,256], got $replicates")
    val means = df.where(idCol.isNotNull && centsCol.isNotNull)
      .select(idCol.cast("long").as("_id"), centsCol.cast("long").as("_v"))
      .select(col("_id"), col("_v"),
        explode(sequence(lit(0L), lit(replicates - 1L))).as("_b"))
      .where(((col("_id") % 1000003L) * (col("_b") + 17L) +
        lit(31L) * col("_b") * col("_b")) % 97L < 48L)
      .groupBy(col("_b"))
      .agg(expr("sum(_v) div count(1)").as("_m"))
    means.agg(
      count(lit(1)).as("b"),
      expr("sum(_m) div count(1)").as("mean_of_means_cents"),
      min(col("_m")).as("lo_cents"),
      max(col("_m")).as("hi_cents"),
      sum(col("_m").cast("decimal(38,0)")).as("_sm"),
      sum(col("_m").cast("decimal(38,0)") * col("_m").cast("decimal(38,0)"))
        .as("_sm2"))
      .select(col("b"), col("mean_of_means_cents"), col("lo_cents"), col("hi_cents"),
        // sample variance numerator b·Σm²−(Σm)² exactly in
        // decimal(38,0) — int64 silently wraps once replicate means
        // pass ~5e8 cents while the DuckDB oracle works in HUGEINT —
        // then ONE correctly-rounded sqrt, floored to micros
        floor(sqrt((col("b").cast("decimal(38,0)") * col("_sm2") -
              col("_sm") * col("_sm"))
            .cast("double") /
          (col("b") * (col("b") - 1L)).cast("double")) * lit(1000000.0d))
          .cast("long").as("std_micros"))
  }

  /** Grubbs' max-studentized-deviate statistic — "is the single most
    * extreme value an outlier": G = max|x − x̄|/s. The SQUARED
    * statistic is exact integer arithmetic end-to-end:
    *
    * {{{ G² = M²·(n−1) / (n·(n·Σx² − (Σx)²)),  M = max|n·x − Σx| }}}
    *
    * (multiplying the deviation through by n clears the rational
    * mean), emitted as the ppm floor g2_ppm plus the value achieving
    * the max (smallest such value on ties — a deterministic frontier,
    * never a row pick).
    *
    * Shape: ONE row-scale hash-aggregate to the (value, count) cell
    * frame; the moments, the max-deviation row, and the argmax are
    * all aggregates over that bounded frame against a broadcast
    * 1-row moments frame. Output:
    * (n, at_value, g2_ppm).
    */
  def grubbs(df: DataFrame, valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(valueCol.isNotNull)
        .groupBy(valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val mom = cells.agg(sum(col("_c")).as("_n"),
      sum(dec(col("_v")) * col("_c")).as("_sx"),
      sum(dec(col("_v")) * col("_v") * col("_c")).as("_qx"))
    val withDev = cells.crossJoin(broadcast(mom))
      .withColumn("_dev", abs(dec(col("_v")) * col("_n") - col("_sx")))
    val m = withDev.agg(max(col("_dev")).as("_m"))
    withDev.crossJoin(broadcast(m))
      .where(col("_dev") === col("_m"))
      .agg(first(col("_n")).as("n"), min(col("_v")).as("at_value"),
        first(col("_m")).as("_mm"), first(col("_sx")).as("_sx2"),
        first(col("_qx")).as("_qx2"))
      .select(col("n"), col("at_value"),
        when(dec(col("n")) * col("_qx2") - col("_sx2") * col("_sx2") > 0,
          expr("""_mm * _mm * (n - 1) * 1000000 div
                  (n * (n * _qx2 - _sx2 * _sx2))""").cast("long"))
          .as("g2_ppm"))
  }

  /** Running-record census — "how often does this series still set a
    * new all-time high": record counts separate growth curves that
    * keep breaking out from ones that plateaued long ago (a
    * stationary random series sets ~ln n records; a trending one
    * sets Θ(n) — a scale-free trend signal beside [[mannKendall]]).
    * A record is a value STRICTLY above every earlier value (first
    * row counts; ties don't). One per-key ordered window (the series
    * family's bounded-per-key exchange) computing the
    * strictly-preceding running max, then one aggregate. Output:
    * (key, n, n_records, last_record_tick, max_value).
    */
  def runningRecords(df: DataFrame, keyCol: Column, tickCol: Column,
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.where(valueCol.isNotNull && tickCol.isNotNull)
      .select(keyCol.as("_k"), tickCol.cast("long").as("_t"),
        valueCol.cast("long").as("_x"))
      .withColumn("_pm", max(col("_x")).over(w))
      .withColumn("_rec",
        (col("_pm").isNull || col("_x") > col("_pm")).cast("long"))
      .groupBy(col("_k").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("_rec")).as("n_records"),
        max(when(col("_rec") === 1L, col("_t"))).as("last_record_tick"),
        max(col("_x")).as("max_value"))
  }

  /** First-order partial correlation — the confounder control a raw
    * Pearson can't do: r_xy·z answers "do x and y still move together
    * once z is held fixed" (click↔purchase controlling for overall
    * traffic; quality↔length controlling for source). Closed form
    * over the three pairwise correlations:
    *
    * {{{ r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) }}}
    *
    * Determinism discipline: the NINE moments (three sums, three
    * squares, three cross-products) are exact decimal(38,0) sums in
    * ONE map-combinable aggregate; each pairwise r and the partial
    * form are a fixed IEEE shape, 6dp. Null when any variance
    * degenerates or either (1−r²) factor is ≤ 0 (collinear
    * control). Output one row:
    * (n, r_xy, r_xz, r_yz, r_xy_z).
    */
  def partialCorr(df: DataFrame, xCol: Column, yCol: Column,
      zCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = xCol.cast("long"); val y = yCol.cast("long")
    val z = zCol.cast("long")
    val m = df.where(x.isNotNull && y.isNotNull && z.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dec(x)).as("_sx"), sum(dec(y)).as("_sy"), sum(dec(z)).as("_sz"),
        sum(dec(x) * x).as("_sxx"), sum(dec(y) * y).as("_syy"),
        sum(dec(z) * z).as("_szz"),
        sum(dec(x) * y).as("_sxy"), sum(dec(x) * z).as("_sxz"),
        sum(dec(y) * z).as("_syz"))
    def s(ab: String, a: String, b: String) =
      (dec(col("n")) * col(s"_s$ab") - col(s"_s$a") * col(s"_s$b"))
        .cast("double")
    // ANSI + codegen subexpression sharing evaluates a division used
    // by several outputs EAGERLY despite the when() guards, and under
    // ANSI even a double /0 raises — so degenerate denominators go
    // NULL before the divide (nulls then propagate through the same
    // guards)
    def nz(c: Column): Column = when(c > 0.0d, c)
    val rxy = s("xy", "x", "y") /
      nz(sqrt(s("xx", "x", "x")) * sqrt(s("yy", "y", "y")))
    val rxz = s("xz", "x", "z") /
      nz(sqrt(s("xx", "x", "x")) * sqrt(s("zz", "z", "z")))
    val ryz = s("yz", "y", "z") /
      nz(sqrt(s("yy", "y", "y")) * sqrt(s("zz", "z", "z")))
    val ok = s("xx", "x", "x") > 0.0d && s("yy", "y", "y") > 0.0d &&
      s("zz", "z", "z") > 0.0d
    val den = (lit(1.0d) - rxz * rxz) * (lit(1.0d) - ryz * ryz)
    m.select(col("n"),
      when(ok, round(rxy, 6)).as("r_xy"),
      when(ok, round(rxz, 6)).as("r_xz"),
      when(ok, round(ryz, 6)).as("r_yz"),
      when(ok && den > 0.0d,
        round((rxy - rxz * ryz) / nz(sqrt(den)), 6)).as("r_xy_z"))
  }

  /** Yuen's trimmed-mean two-sample t — what [[cohensD]]/abTest lose
    * the moment tails are heavy: the classic t compares means an
    * outlier owns; Yuen compares α-TRIMMED means with WINSORIZED
    * variances and the Welch correction — the robust two-arm test of
    * record. Exact core over each arm's (value, count) CDF cell
    * frame (the [[groupedTrimmedMean]] tail-overlap discipline):
    * t = ⌊n·α⌋ rows trim per tail, h = n − 2t survive; the fences
    * are the (t+1)-th / (n−t)-th order statistics (conditional-min
    * frontiers, no sort); trimmed sums and winsorized Σw/Σw² are
    * exact integers — winsorized tail rows contribute t·fence and
    * t·fence² exactly. Then one fixed IEEE shape:
    *
    * {{{ d_i = (n_i·Σw² − (Σw)²) / (n_i·h_i·(h_i−1)) }}}
    * {{{ t = (x̄t₁−x̄t₂)/√(d₁+d₂),  df Welch on (d_i, h_i−1) }}}
    *
    * Arms with h < 2 or zero winsorized spread report null t/df.
    * Output one row: (n_a, n_b, h_a, h_b, tm_a, tm_b, t, df), 6dp.
    */
  def yuenTest(df: DataFrame, armCol: Column, valueCol: Column,
      armA: String, armB: String, alphaPpm: Long = 200000L): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm < 500000L,
      s"yuenTest: alphaPpm must be in [0, 500000), got $alphaPpm")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df
      .where(armCol.cast("string").isin(armA, armB) && valueCol.isNotNull)
      .groupBy(armCol.cast("string").as("_g"),
        valueCol.cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("_g"))
    val cdf = cells
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_t", expr(s"_n * ${alphaPpm}L div 1000000"))
      .withColumn("_lowc",
        greatest(lit(0L), least(col("_cum"), col("_t")) - (col("_cum") - col("_c"))))
      .withColumn("_highc",
        greatest(lit(0L),
          col("_cum") - greatest(col("_cum") - col("_c"), col("_n") - col("_t"))))
    val per = cdf.groupBy(col("_g"))
      .agg(first(col("_n")).as("_n"), first(col("_t")).as("_tt"),
        min(when(col("_cum") >= col("_t") + 1L, col("_v"))).as("_vlo"),
        min(when(col("_cum") >= col("_n") - col("_t"), col("_v"))).as("_vhi"),
        sum(dec((col("_c") - col("_lowc") - col("_highc")) * col("_v")))
          .as("_ts"),
        sum(dec(col("_c") - col("_lowc") - col("_highc")) * col("_v") * col("_v"))
          .as("_tq"))
      .withColumn("_h", col("_n") - lit(2L) * col("_tt"))
      // winsorized moments: the t tail rows sit ON the fences exactly
      .withColumn("_sw",
        col("_ts") + dec(col("_tt")) * col("_vlo") +
          dec(col("_tt")) * col("_vhi"))
      .withColumn("_sw2",
        col("_tq") + dec(col("_tt")) * col("_vlo") * col("_vlo") +
          dec(col("_tt")) * col("_vhi") * col("_vhi"))
      .withColumn("_wnum", dec(col("_n")) * col("_sw2") - col("_sw") * col("_sw"))
    def arm(g: String, sfx: String) = per.where(col("_g") === g)
      .select(col("_n").as(s"n_$sfx"), col("_h").as(s"h_$sfx"),
        col("_ts").as(s"_ts_$sfx"), col("_wnum").as(s"_wnum_$sfx"))
    val j = arm(armA, "a").crossJoin(broadcast(arm(armB, "b")))
    def tm(sfx: String) =
      col(s"_ts_$sfx").cast("double") / col(s"h_$sfx").cast("double")
    def dd(sfx: String) =
      col(s"_wnum_$sfx").cast("double") /
        (col(s"n_$sfx").cast("double") * col(s"h_$sfx").cast("double") *
          (col(s"h_$sfx") - 1L).cast("double"))
    val ok = col("h_a") >= 2L && col("h_b") >= 2L &&
      (dd("a") + dd("b")) > 0.0d
    j.select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
      when(col("h_a") >= 1L, round(tm("a"), 6)).as("tm_a"),
      when(col("h_b") >= 1L, round(tm("b"), 6)).as("tm_b"),
      when(ok, round((tm("a") - tm("b")) / sqrt(dd("a") + dd("b")), 6))
        .as("t"),
      when(ok && dd("a") * dd("a") / (col("h_a") - 1L).cast("double") +
          dd("b") * dd("b") / (col("h_b") - 1L).cast("double") > 0.0d,
        round((dd("a") + dd("b")) * (dd("a") + dd("b")) /
          (dd("a") * dd("a") / (col("h_a") - 1L).cast("double") +
            dd("b") * dd("b") / (col("h_b") - 1L).cast("double")), 6))
        .as("df"))
  }

  /** Per-group skewness and excess kurtosis — the two shape moments a
    * mean/variance profile is blind to (heavy right tail? peaked or
    * flat?), computed WITHOUT the classic catastrophic cancellation:
    * the naive multiplied-out n³Σx⁴ form overflows any fixed decimal
    * AND cancels ~equal 10²⁴-scale doubles. Instead, a two-phase
    * shift: phase 1 takes each group's integer mean floor μ = Σx div
    * n (exact); phase 2 sums the SHIFTED powers Σd, Σd², Σd³, Σd⁴
    * with d = x − μ (exact decimal(38,0) — d is deviation-scaled, so
    * d⁴ sums fit where x⁴ forms cannot), and the true central
    * moments follow by the shift identity with δ = (Σx mod n)/n ∈
    * [0,1):
    *
    * {{{ m2 = Σd²/n − δ²,  m3 = Σd³/n − 3δ·Σd²/n + 2δ³ }}}
    * {{{ m4 = Σd⁴/n − 4δ·Σd³/n + 6δ²·Σd²/n − 3δ⁴ }}}
    * {{{ g1 = m3/m2^{3/2},  g2 = m4/m2² − 3 }}}
    *
    * — every input to the fixed IEEE shapes is an exact integer
    * ratio, all terms deviation-scale (no cancellation of large
    * opposing magnitudes). Both phases run over the persisted
    * (group, value, count) cell frame: one row-scale shuffle total.
    * Zero-variance groups report null shape moments. Output:
    * (group, n, mean, skewness, kurtosis_excess), 6dp.
    */
  def groupedMoments(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .groupBy(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .agg(count(lit(1)).as("_c")))
    val mu = cells.groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"), sum(dec(col("_v")) * col("_c")).as("_sx"))
      .select(col("_g"), col("_n"), expr("_sx div _n").cast("long").as("_mu"),
        (col("_sx") - dec(col("_n")) * expr("_sx div _n"))
          .cast("decimal(38,0)").as("_r"))
    // d² fits a long (|d| ≤ ~3·10⁹ before it wouldn't) — computing it
    // once in integer space leaves ONE decimal widening per power
    // instead of a per-row decimal multiply chain (measured ~2× on
    // the row-scale cell frame)
    val d = col("_v") - col("_mu")
    val pow = cells.join(mu, Seq("_g"))
      .withColumn("_d", d)
      .withColumn("_d2", col("_d") * col("_d"))
      .groupBy(col("_g"), col("_n"), col("_mu"), col("_r"))
      .agg(
        sum(dec(col("_d")) * col("_c")).as("_s1"),
        sum(dec(col("_d2")) * col("_c")).as("_s2"),
        sum(dec(col("_d2")) * col("_d") * col("_c")).as("_s3"),
        sum(dec(col("_d2")) * col("_d2") * col("_c")).as("_s4"))
    val nD = col("_n").cast("double")
    val del = col("_r").cast("double") / nD
    val m2 = col("_s2").cast("double") / nD - del * del
    val m3 = col("_s3").cast("double") / nD -
      lit(3.0d) * del * (col("_s2").cast("double") / nD) +
      lit(2.0d) * del * del * del
    val m4 = col("_s4").cast("double") / nD -
      lit(4.0d) * del * (col("_s3").cast("double") / nD) +
      lit(6.0d) * del * del * (col("_s2").cast("double") / nD) -
      lit(3.0d) * del * del * del * del
    pow.select(col("_g").as("group"), col("_n").as("n"),
      round(col("_mu").cast("double") + del, 6).as("mean"),
      when(m2 > 0.0d, round(m3 / (sqrt(m2) * m2), 6)).as("skewness"),
      when(m2 > 0.0d, round(m4 / (m2 * m2) - lit(3.0d), 6))
        .as("kurtosis_excess"))
  }

  /** Lin's concordance correlation coefficient — the AGREEMENT
    * metric Pearson r deliberately isn't: r rewards any linear
    * relation (y = 2x + 5 scores r = 1), CCC rewards y = x only,
    * penalizing scale and location bias — the statistic for "does
    * the cheap model reproduce the expensive gold NUMBER", paired
    * day-by-day. Multiplying Lin's population form through by n²
    * clears every mean:
    *
    * {{{ CCC = 2·S_xy / (S_xx + S_yy + (Σx − Σy)²) }}}
    *
    * with S_ab = n·Σab − Σa·Σb — EXACT decimal(38,0) integers into
    * ONE IEEE division, rounded 6dp (no sqrt at all — tighter than
    * the Pearson family). Also emitted: Pearson r and the bias
    * correction factor c_b = CCC/r (the location/scale-shift
    * penalty alone). Null when either variance is 0. Output one row:
    * (n, ccc, r, c_b).
    */
  def concordanceCcc(df: DataFrame, xCol: Column,
      yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = xCol.cast("long"); val y = yCol.cast("long")
    val m = df.where(x.isNotNull && y.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dec(x)).as("_sx"), sum(dec(y)).as("_sy"),
        sum(dec(x) * x).as("_sxx"), sum(dec(y) * y).as("_syy"),
        sum(dec(x) * y).as("_sxy"))
      .select(col("n"),
        (dec(col("n")) * col("_sxx") - col("_sx") * col("_sx")).as("_Sxx"),
        (dec(col("n")) * col("_syy") - col("_sy") * col("_sy")).as("_Syy"),
        (dec(col("n")) * col("_sxy") - col("_sx") * col("_sy")).as("_Sxy"),
        ((col("_sx") - col("_sy")) * (col("_sx") - col("_sy")))
          .cast("decimal(38,0)").as("_D2"))
    val ccc = lit(2.0d) * col("_Sxy").cast("double") /
      (col("_Sxx") + col("_Syy") + col("_D2")).cast("double")
    val r = col("_Sxy").cast("double") /
      (sqrt(col("_Sxx").cast("double")) * sqrt(col("_Syy").cast("double")))
    m.select(col("n"),
      when(col("_Sxx") > 0 && col("_Syy") > 0, round(ccc, 6)).as("ccc"),
      when(col("_Sxx") > 0 && col("_Syy") > 0, round(r, 6)).as("r"),
      when(col("_Sxx") > 0 && col("_Syy") > 0 && col("_Sxy") =!= 0,
        round(ccc / r, 6)).as("c_b"))
  }

  /** Deming (orthogonal, λ=1) regression — the method-comparison
    * LINE: ordinary least squares assumes x is error-free and biases
    * the slope toward 0 when both measurements are noisy (regression
    * dilution); Deming splits the error evenly and recovers the
    * symmetric relationship — with [[blandAltman]] (bias bands) and
    * [[concordanceCcc]] (one-number agreement) this completes the
    * standard method-comparison trio.
    *
    * {{{ slope = (S_yy − S_xx + √((S_yy − S_xx)² + 4·S_xy²)) / (2·S_xy) }}}
    *
    * with every S in the n-cleared exact form n·Σab − Σa·Σb
    * (decimal(38,0)), ONE fixed IEEE shape for the slope and one for
    * the intercept (ȳ − slope·x̄ off the exact sums), rounded 6dp;
    * null when S_xy = 0 (no linear co-movement — the orthogonal line
    * is vertical or undefined). One aggregate over the pair frame.
    * Output one row: (n, slope, intercept).
    */
  def demingFit(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = xCol.cast("long"); val y = yCol.cast("long")
    val m = df.where(xCol.isNotNull && yCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dec(x)).as("_sx"), sum(dec(y)).as("_sy"),
        sum(dec(x) * x).as("_sxx"), sum(dec(y) * y).as("_syy"),
        sum(dec(x) * y).as("_sxy"))
      .select(col("n"), col("_sx"), col("_sy"),
        (dec(col("n")) * col("_sxx") - col("_sx") * col("_sx")).as("_Sxx"),
        (dec(col("n")) * col("_syy") - col("_sy") * col("_sy")).as("_Syy"),
        (dec(col("n")) * col("_sxy") - col("_sx") * col("_sy")).as("_Sxy"))
    val dD = (col("_Syy") - col("_Sxx")).cast("double")
    // null-guard the denominator itself (ANSI + CSE eager division)
    val sxyD = when(col("_Sxy") =!= 0, col("_Sxy")).cast("double")
    val slope = (dD + sqrt(dD * dD + lit(4.0d) * (sxyD * sxyD))) /
      (lit(2.0d) * sxyD)
    m.withColumn("slope", round(slope, 6))
      .select(col("n"), col("slope"),
        when(col("slope").isNotNull,
          round((col("_sy").cast("double") -
            col("slope") * col("_sx").cast("double")) /
            col("n").cast("double"), 6)).as("intercept"))
  }

  /** Bland-Altman agreement — the method-comparison readout beside
    * [[concordanceCcc]]: CCC scores agreement as ONE number; Bland-
    * Altman says HOW the methods disagree — systematic bias (mean
    * difference) and the 95% limits of agreement (bias ± 1.96·sd),
    * plus how many pairs actually fall outside them. The clinical /
    * metrology standard for "can the cheap measurement replace the
    * expensive one", which is exactly the cheap-model-vs-gold-labels
    * question.
    *
    * Exactness: integer differences d = x − y, exact n·Σd² − (Σd)²
    * in decimal(38,0), bias and sd each ONE fixed IEEE shape rounded
    * 6dp, and the outside-count compares the integer d against the
    * ROUNDED fences (comparator-proof on every engine). Two passes
    * over the |pairs| frame (moments, then fence counts) — the frame
    * is persisted. Output one row:
    * (n, bias, sd, loa_lo, loa_hi, n_outside).
    */
  def blandAltman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d = CacheRegistry.persist(
      df.where(xCol.isNotNull && yCol.isNotNull)
        .select((xCol.cast("long") - yCol.cast("long")).as("_d")))
    val m = d.agg(count(lit(1)).as("n"), coalesce(sum(dec(col("_d"))),
        dec(lit(0L))).as("_sd1"),
      coalesce(sum(dec(col("_d")) * col("_d")), dec(lit(0L))).as("_sd2"))
    val nD = col("n").cast("double")
    val bias = col("_sd1").cast("double") / nD
    val sd = sqrt((dec(col("n")) * col("_sd2") - col("_sd1") * col("_sd1"))
      .cast("double") / (dec(col("n")) * (col("n") - 1L)).cast("double"))
    val stats = m.select(col("n"), round(bias, 6).as("bias"),
      when(col("n") >= 2L, round(sd, 6)).as("sd"))
      .withColumn("loa_lo",
        when(col("sd").isNotNull, round(col("bias") - lit(1.96d) * col("sd"), 6)))
      .withColumn("loa_hi",
        when(col("sd").isNotNull, round(col("bias") + lit(1.96d) * col("sd"), 6)))
    d.crossJoin(broadcast(stats))
      .agg(first(col("n")).as("n"), first(col("bias")).as("bias"),
        first(col("sd")).as("sd"), first(col("loa_lo")).as("loa_lo"),
        first(col("loa_hi")).as("loa_hi"),
        sum(when(col("loa_lo").isNotNull &&
          (col("_d").cast("double") < col("loa_lo") ||
           col("_d").cast("double") > col("loa_hi")), 1L).otherwise(0L))
          .as("n_outside"))
  }

  /** Bivariate Mahalanobis outlier scoring — what a per-column
    * z-score ([[grubbs]], robust scaling) cannot see: a row that is
    * unremarkable on each axis but lies OFF THE CORRELATION RIDGE
    * (high price with low quantity when the two move together). For
    * two columns the inverse covariance is closed-form, so the score
    * is one fixed expression per row:
    *
    * {{{ d² = (n−1)/n · (u²·S_yy − 2uv·S_xy + v²·S_xx) / det }}}
    *
    * with u = n·x − Σx, v = n·y − Σy (the mean-clearing
    * multiply-out), S_ab = n·Σab − Σa·Σb, det = S_xx·S_yy − S_xy².
    * The six moments are EXACT decimal(38,0) sums (one map-combinable
    * aggregate, broadcast back); the per-row quadratic form runs in
    * doubles (its cross-products pass decimal(38) range) in one
    * fixed IEEE shape, rounded 6dp — deterministic because every
    * input double is exact-integer-valued. Output: the global top-`k`
    * rows by (d², id) via TakeOrdered —
    * (id, x, y, d2). Degenerate covariance (det ≤ 0) yields an empty
    * frame rather than junk distances.
    */
  def mahalanobisOutliers(df: DataFrame, idCol: Column, xCol: Column,
      yCol: Column, k: Int = 10): DataFrame = {
    require(k >= 1, s"mahalanobisOutliers: k must be >= 1, got $k")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = CacheRegistry.persist(
      df.where(idCol.isNotNull && xCol.isNotNull && yCol.isNotNull)
        .select(idCol.as("id"), xCol.cast("long").as("x"),
          yCol.cast("long").as("y")))
    val m = base.agg(count(lit(1)).as("_n"),
      sum(dec(col("x"))).as("_sx"), sum(dec(col("y"))).as("_sy"),
      sum(dec(col("x")) * col("x")).as("_sxx"),
      sum(dec(col("y")) * col("y")).as("_syy"),
      sum(dec(col("x")) * col("y")).as("_sxy"))
      .select(col("_n"), col("_sx"), col("_sy"),
        (dec(col("_n")) * col("_sxx") - col("_sx") * col("_sx")).as("_Sxx"),
        (dec(col("_n")) * col("_syy") - col("_sy") * col("_sy")).as("_Syy"),
        (dec(col("_n")) * col("_sxy") - col("_sx") * col("_sy")).as("_Sxy"))
    val u = (dec(col("_n")) * col("x") - col("_sx")).cast("double")
    val v = (dec(col("_n")) * col("y") - col("_sy")).cast("double")
    val det = col("_Sxx").cast("double") * col("_Syy").cast("double") -
      col("_Sxy").cast("double") * col("_Sxy").cast("double")
    base.crossJoin(broadcast(m))
      .where(det > 0.0d && col("_n") >= 2L)
      .select(col("id"), col("x"), col("y"),
        round((col("_n") - 1L).cast("double") / col("_n").cast("double") *
          (u * u * col("_Syy").cast("double") -
            lit(2.0d) * u * v * col("_Sxy").cast("double") +
            v * v * col("_Sxx").cast("double")) / det, 6).as("d2"))
      .orderBy(col("d2").desc, col("id").asc)
      .limit(k)
  }

  /** Bartlett's variance-homogeneity test — the PARAMETRIC sibling of
    * [[brownForsythe]]: BF compares mean absolute spreads (robust),
    * Bartlett compares log variances directly (sharper when the data
    * really are near-normal, the classic pre-ANOVA gate):
    *
    * {{{ χ² = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C }}}
    * {{{ C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)) }}}
    *
    * Determinism discipline: each group's variance is the EXACT
    * rational (n_i·Σx² − (Σx)²)/(n_i(n_i−1)) from decimal(38,0)
    * sums; the per-group ln terms and the pooled-variance and
    * reciprocal terms are rounded ONCE to 6dp DECIMAL and summed
    * exactly (the [[Ranking]] entropy discipline), so no float
    * accumulates in any engine-order-dependent way; the final χ² is
    * one fixed IEEE expression rounded 6dp. Groups with n_i < 2 or
    * zero variance are excluded and counted (`k_dropped` — never
    * silent; ln 0 is the alternative). Output one row:
    * (k, k_dropped, n, chi2).
    */
  def bartlett(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = valueCol.cast("long")
    val per = df.where(groupCol.isNotNull && x.isNotNull)
      .groupBy(groupCol.as("_g"))
      .agg(count(lit(1)).as("_n"), sum(dec(x)).as("_s"),
        sum(dec(x) * x).as("_q"))
      .withColumn("_num", dec(col("_n")) * col("_q") - col("_s") * col("_s"))
    val kept = per.where(col("_n") >= 2L && col("_num") > 0)
      .select(col("_n"),
        // exact rational s_i² enters ln as one double division
        round((col("_n") - 1L).cast("double") *
          log(col("_num").cast("double") /
            (dec(col("_n")) * (col("_n") - 1L)).cast("double")), 6)
          .cast("decimal(28,6)").as("_lnterm"),
        // (n_i−1)·s_i² = _num/n_i — one 6dp rounding per group
        round(col("_num").cast("double") / col("_n").cast("double"), 6)
          .cast("decimal(28,6)").as("_ss"),
        round(lit(1.0d) / (col("_n") - 1L).cast("double"), 6)
          .cast("decimal(18,6)").as("_rcp"))
    val dropped = per.agg(
      sum(when(col("_n") < 2L || col("_num") <= 0, 1L).otherwise(0L))
        .as("k_dropped"))
    kept.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"),
        sum(col("_lnterm")).as("_sl"), sum(col("_ss")).as("_sss"),
        sum(col("_rcp")).as("_src"))
      .crossJoin(broadcast(dropped))
      .select(col("k"), col("k_dropped"), col("n"),
        when(col("k") >= 2L && col("n") > col("k") && col("_sss") > 0,
          round(
            ((col("n") - col("k")).cast("double") *
              log(col("_sss").cast("double") /
                (col("n") - col("k")).cast("double")) -
              col("_sl").cast("double")) /
              (lit(1.0d) +
                (col("_src").cast("double") -
                  lit(1.0d) / (col("n") - col("k")).cast("double")) /
                  (lit(3.0d) * (col("k") - 1L).cast("double"))),
            6)).as("chi2"))
  }

  /** Delta-method standard error for a RATIO metric — the readout
    * [[abTest]] can't give you: revenue-per-session, clicks-per-view,
    * tokens-per-document are ratios of two per-user sums, and the
    * naive "treat the ratio as a mean" SE is simply wrong (users
    * contribute correlated numerator and denominator). The standard
    * fix (Deng et al., KDD'18 practice): per-user pairs (x_i, y_i),
    * R̂ = Σx/Σy, and
    *
    * {{{ Var(R̂) ≈ (S_xx − 2R̂·S_xy + R̂²·S_yy) / (n·ȳ²) }}}
    *
    * with S the per-user sample (co)variances. Determinism
    * discipline: per-user sums are exact longs, all cross-user
    * moments (n, Σx, Σy, Σx², Σy², Σxy) exact decimal(38,0) sums
    * (map-combinable — ONE shuffle on the user key, then a k-arm
    * aggregate), and R̂/SE are one fixed-shape IEEE expression per
    * arm, emitted as 6dp ratio and floored se_micros (the
    * [[bootstrapMean]] discipline). Arms with < 2 users or Σy ≤ 0
    * report null. Output per arm:
    * (arm, n_users, num_sum, den_sum, ratio, se_micros).
    */
  def deltaRatio(df: DataFrame, armCol: Column, userCol: Column,
      numCol: Column, denCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perUser = df.where(armCol.isNotNull && userCol.isNotNull)
      .groupBy(armCol.cast("string").as("arm"), userCol.as("_u"))
      .agg(sum(coalesce(numCol.cast("long"), lit(0L))).as("_x"),
        sum(coalesce(denCol.cast("long"), lit(0L))).as("_y"))
    val m = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(dec(col("_x"))).as("_sx"), sum(dec(col("_y"))).as("_sy"),
        sum(dec(col("_x")) * col("_x")).as("_sxx"),
        sum(dec(col("_y")) * col("_y")).as("_syy"),
        sum(dec(col("_x")) * col("_y")).as("_sxy"))
    val nD = col("n_users").cast("double")
    val r = col("_sx").cast("double") / col("_sy").cast("double")
    // sample (co)variances: (n·Σab − Σa·Σb) / (n(n−1)), each numerator
    // exact decimal before the one double conversion
    def sv(sab: Column, sa: Column, sb: Column): Column =
      (dec(col("n_users")) * sab - sa * sb).cast("double") /
        (nD * (nD - 1.0d))
    m.select(col("arm"), col("n_users"),
      col("_sx").cast("long").as("num_sum"),
      col("_sy").cast("long").as("den_sum"),
      when(col("_sy") > 0, round(r, 6)).as("ratio"),
      when(col("n_users") >= 2L && col("_sy") > 0,
        floor(sqrt(
          (sv(col("_sxx"), col("_sx"), col("_sx")) -
            lit(2.0d) * r * sv(col("_sxy"), col("_sx"), col("_sy")) +
            r * r * sv(col("_syy"), col("_sy"), col("_sy"))) /
            (nD * (col("_sy").cast("double") / nD) *
              (col("_sy").cast("double") / nD))) * lit(1000000.0d))
          .cast("long")).as("se_micros"))
  }

  /** Per-key lag-k autocorrelation — the "is this series momentum or
    * noise" diagnostic: Pearson r between x_t and x_{t−k} within each
    * key, over the n−k aligned pairs. One `lag` window per key (hash
    * exchange on the key, no global sort), then the
    * [[groupedCorrMatrix]] moment discipline: exact DECIMAL(38,6)
    * sums, doubles only in the final fixed-shape expression. Keys
    * with fewer than `minPairs` aligned pairs or zero variance on
    * either leg return null r. Output: (key, n_pairs, r).
    */
  def lagAutocorr(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      valueCol: Column, k: Int = 1, minPairs: Long = 3L): DataFrame = {
    require(k >= 1, s"lagAutocorr: lag must be >= 1, got $k")
    val w = Window.partitionBy(col("_k")).orderBy(orderBy: _*)
    val pairs = df.where(valueCol.isNotNull)
      .select((keyCol.as("_k") +: orderBy) :+
        valueCol.cast("decimal(18,6)").as("_x"): _*)
      .withColumn("_y", lag(col("_x"), k).over(w))
      .where(col("_y").isNotNull)
    val agg = pairs.groupBy(col("_k").as("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"))
    val nD = col("n_pairs").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nD * d("_sxy") - d("_sx") * d("_sy")
    val vx = nD * d("_sxx") - d("_sx") * d("_sx")
    val vy = nD * d("_syy") - d("_sy") * d("_sy")
    agg.select(col("key"), col("n_pairs"),
      when(col("n_pairs") < minPairs || vx <= 0.0d || vy <= 0.0d,
        lit(null).cast("double"))
        .otherwise(round(num / (sqrt(vx) * sqrt(vy)), 6)).as("r"))
  }

  /** Information gain of a categorical feature about a categorical
    * target — the decision-tree split criterion and the feature-
    * selection score [[mutualInfo]] reports unnormalized: IG =
    * H(Y) − H(Y|X) (equal to MI), plus the entropies themselves and
    * Quinlan's gain ratio IG/H(X) (the correction that stops
    * high-cardinality features from winning on fragmentation alone).
    *
    * All four read off the same |X|·|Y| cell frame + margins (one
    * hash-agg over the data, two margin aggs over cells): each
    * entropy is a Σ of per-cell `round(·,6)` DECIMAL terms — the
    * shuffle-order-proof discipline — with one ln per term over
    * exact bigint ratios. Returns one row: (n, h_x, h_y,
    * h_y_given_x, info_gain, gain_ratio); gain_ratio is null when
    * H(X) = 0 (constant feature).
    */
  def informationGain(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.where(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val n = cells.agg(sum(col("n_xy")).as("_n"))
    def nd(c: String) = col(c).cast("double")
    // −Σ (c/N)·ln(c/N) over a margin frame, 6dp decimal terms
    def entropyOf(margin: DataFrame, cnt: String): DataFrame =
      margin.crossJoin(broadcast(n))
        .select(round((nd(cnt) / nd("_n")) * log(nd(cnt) / nd("_n")), 6)
          .cast("decimal(18,6)").as("_t"))
        .agg((-sum(col("_t"))).cast("double").as("h"))
    val hx = entropyOf(mx, "n_x")
    val hy = entropyOf(my, "n_y")
    // H(Y|X) = −Σ_xy (n_xy/N)·ln(n_xy/n_x)
    val hyx = cells.join(broadcast(mx), Seq("x")).crossJoin(broadcast(n))
      .select(round((nd("n_xy") / nd("_n")) * log(nd("n_xy") / nd("n_x")), 6)
        .cast("decimal(18,6)").as("_t"))
      .agg((-sum(col("_t"))).cast("double").as("h"))
    n.crossJoin(broadcast(hx.select(col("h").as("h_x"))))
      .crossJoin(broadcast(hy.select(col("h").as("h_y"))))
      .crossJoin(broadcast(hyx.select(col("h").as("h_y_given_x"))))
      .select(col("_n").as("n"), col("h_x"), col("h_y"), col("h_y_given_x"),
        round(col("h_y") - col("h_y_given_x"), 6).as("info_gain"))
      .withColumn("gain_ratio",
        when(col("h_x") <= 0.0d, lit(null).cast("double"))
          .otherwise(round((col("h_y") - col("h_y_given_x")) / col("h_x"), 6)))
  }

  /** Score-calibration (reliability) bins — "when the score says X,
    * how often is the outcome true": equi-width score bins, each with
    * its exact observed positive rate. The reliability-diagram input
    * for any scorer (quality filter, classifier, ANN distance) —
    * perfectly calibrated means rate tracks the bin's score range.
    *
    * Integer contract end-to-end: bin = score div width (exact, no
    * float boundary jitter), rate in ppm by floor division — so the
    * frame is cross-engine bit-exact. One hash-agg keyed by bin with
    * map-side partials. Output: (bin, lo, n, n_pos, rate_ppm).
    */
  def calibrationBins(df: DataFrame, scoreCol: Column, outcomeCol: Column,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"calibrationBins: binWidth must be >= 1, got $binWidth")
    df.where(scoreCol.isNotNull && outcomeCol.isNotNull)
      .select(scoreCol.cast("long").as("_s"), outcomeCol.cast("long").as("_y"))
      .select(expr(s"_s div $binWidth").as("bin"), col("_y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"))
      .select(col("bin"), (col("bin") * binWidth).as("lo"),
        col("n"), col("n_pos"),
        expr("n_pos * 1000000L div n").as("rate_ppm"))
  }

  /** Murphy decomposition of the Brier score + expected calibration
    * error — the full scorecard behind [[calibrationBins]]' raw
    * reliability table: for a ppm-valued probability forecast against
    * binary outcomes, Brier = REL − RES + UNC with
    * REL = Σ_b n_b(p̄_b−ō_b)²/N (calibration: is 0.7 really 0.7),
    * RES = Σ_b n_b(ō_b−ō)²/N (sharpness: do the bins separate), and
    * UNC = ō(1−ō) (the base-rate floor no forecaster beats without
    * information); ECE = Σ_b n_b|p̄_b−ō_b|/N is the companion the
    * model-card standard reports. Bins are distinct forecast values —
    * callers quantize upstream (ppm forecasts usually arrive
    * quantized).
    *
    * Exactness: per-bin counts/positives are exact integers; each
    * bin's REL/RES/ECE term is one fixed IEEE chain rounded to 6dp
    * DECIMAL before the order-proof sum ([[mutualInfo]] discipline).
    * One hash-agg to the |bins| frame, a 1-row broadcast total, one
    * summary row: (n, n_bins, reliability, resolution, uncertainty,
    * brier, ece).
    */
  def brierDecomposition(df: DataFrame, pPpmCol: Column,
      outcomeCol: Column): DataFrame = {
    // persisted: the bin frame feeds the totals row and the term pass —
    // unpersisted each consumer would re-scan the fact table
    val bins = CacheRegistry.persist(
      df.where(pPpmCol.isNotNull && outcomeCol.isNotNull)
        .select(pPpmCol.cast("long").as("_p"), outcomeCol.cast("long").as("_y"))
        .groupBy(col("_p"))
        .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos")))
    val tot = bins.agg(sum(col("_n")).as("n"), sum(col("_pos")).as("_npos"),
      count(lit(1)).as("n_bins"))
    val p = col("_p").cast("double") / lit(1000000.0d)
    val ob = col("_pos").cast("double") / col("_n").cast("double")
    val obar = col("_npos").cast("double") / col("n").cast("double")
    val terms = bins.crossJoin(broadcast(tot))
      .select(col("n"), col("n_bins"), col("_npos"),
        round(col("_n").cast("double") * (p - ob) * (p - ob), 6)
          .cast("decimal(38,6)").as("_rel"),
        round(col("_n").cast("double") * (ob - obar) * (ob - obar), 6)
          .cast("decimal(38,6)").as("_res"),
        round(col("_n").cast("double") * abs(p - ob), 6)
          .cast("decimal(38,6)").as("_ece"))
      .groupBy(col("n"), col("n_bins"), col("_npos"))
      .agg(sum(col("_rel")).as("_srel"), sum(col("_res")).as("_sres"),
        sum(col("_ece")).as("_sece"))
    val nD = col("n").cast("double")
    val rel = col("_srel").cast("double") / nD
    val res = col("_sres").cast("double") / nD
    val unc = (col("_npos").cast("double") / nD) *
      (lit(1.0d) - col("_npos").cast("double") / nD)
    terms.select(col("n"), col("n_bins"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(unc, 6).as("uncertainty"),
      round(rel - res + unc, 6).as("brier"),
      round(col("_sece").cast("double") / nD, 6).as("ece"))
  }

  /** McNemar's test for PAIRED binary outcomes — "did the same users
    * flip" where an unpaired chi-square only sees the margins: for
    * each unit the (before, after) pair; only the discordant cells
    * matter, χ² = (n01−n10)²/(n01+n10), plus the Edwards
    * continuity-corrected form max(|n01−n10|−1, 0)²/(n01+n10) — the
    * numerator is clamped at zero so balanced discordant cells give
    * χ²_cc = 0 rather than overshooting past the uncorrected 0.
    *
    * Integer end-to-end: one per-unit max-aggregate collapses events
    * to the unit's (a, b) pair, one 1-row count aggregate, and both
    * statistics are exact ppm floor-divs — nothing for a comparator to
    * drift on. Output one row:
    * (n_pairs, n01, n10, chi2_ppm, chi2_cc_ppm); statistics null when
    * no discordant pairs exist.
    */
  def mcnemar(df: DataFrame, unitCol: Column, aCol: Column,
      bCol: Column): DataFrame = {
    val per = df.where(unitCol.isNotNull)
      .groupBy(unitCol.as("_u"))
      .agg(max(aCol.cast("long")).as("_a"), max(bCol.cast("long")).as("_b"))
    per.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("_a") === 0L && col("_b") === 1L, 1L).otherwise(0L)).as("n01"),
      sum(when(col("_a") === 1L && col("_b") === 0L, 1L).otherwise(0L)).as("n10"))
      .select(col("n_pairs"), col("n01"), col("n10"),
        when(col("n01") + col("n10") > 0L,
          expr("(n01 - n10) * (n01 - n10) * 1000000 div (n01 + n10)"))
          .as("chi2_ppm"),
        when(col("n01") + col("n10") > 0L,
          expr("""greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
                 | * 1000000 div (n01 + n10)""".stripMargin)).as("chi2_cc_ppm"))
  }

  /** 2×2 difference-in-differences — the workhorse quasi-experimental
    * estimator when treatment wasn't randomized (a feature shipped to
    * one cohort, a policy hit one region): DID = (ȳ_treated,post −
    * ȳ_treated,pre) − (ȳ_control,post − ȳ_control,pre), the change in
    * the treated group net of the secular trend the control group
    * measures.
    *
    * One map-combinable aggregate to the 4-cell frame (exact integer
    * counts and cent sums), then DID and the per-cell means are one
    * fixed IEEE shape over those 8 scalars. Output one row:
    * (n00, n01, n10, n11, mean00, mean01, mean10, mean11, did) — cell
    * code = <treated><post>, means and DID in the value's own units,
    * 6dp. Null when any cell is empty (the design is undefined).
    */
  def diffInDiff(df: DataFrame, treatedCol: Column, postCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df
      .where(treatedCol.isNotNull && postCol.isNotNull && valueCol.isNotNull)
      .select(treatedCol.cast("long").as("_t"), postCol.cast("long").as("_p"),
        valueCol.cast("long").as("_v"))
      .groupBy(col("_t"), col("_p"))
      .agg(count(lit(1)).as("_n"), sum(col("_v")).as("_s"))
    def cell(t: Int, p: Int, c: String) =
      sum(when(col("_t") === t && col("_p") === p, col(c))).as(s"_$c$t$p")
    val wide = cells.agg(
      cell(0, 0, "_n"), cell(0, 1, "_n"), cell(1, 0, "_n"), cell(1, 1, "_n"),
      cell(0, 0, "_s"), cell(0, 1, "_s"), cell(1, 0, "_s"), cell(1, 1, "_s"))
    def m(t: Int, p: Int) =
      col(s"__s$t$p").cast("double") / col(s"__n$t$p").cast("double")
    val ok = (0 to 1).flatMap(t => (0 to 1).map(p =>
      coalesce(col(s"__n$t$p"), lit(0L)) > 0L)).reduce(_ && _)
    wide.select(
      coalesce(col("__n00"), lit(0L)).as("n00"),
      coalesce(col("__n01"), lit(0L)).as("n01"),
      coalesce(col("__n10"), lit(0L)).as("n10"),
      coalesce(col("__n11"), lit(0L)).as("n11"),
      when(ok, round(m(0, 0), 6)).as("mean00"),
      when(ok, round(m(0, 1), 6)).as("mean01"),
      when(ok, round(m(1, 0), 6)).as("mean10"),
      when(ok, round(m(1, 1), 6)).as("mean11"),
      when(ok, round((m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0)), 6)).as("did"))
  }

  /** Per-key time-weighted average — the TWAP/uptime-mean shape:
    * each observation holds its value until the NEXT observation, so
    * the mean weights by holding duration, not sample count
    * (irregular telemetry sampled uniformly otherwise biases toward
    * chatty periods).
    *
    * Interval attribution via one `lead` window per key (one hash
    * exchange, no global sort); the value×µs products accumulate in
    * DECIMAL(38,6) so the sum is shuffle-order-proof. The key's LAST
    * observation has no successor and is excluded (the standard
    * right-open convention); null values drop their interval. One row
    * per key: (key, n_intervals, dt_total_us, twap).
    */
  def timeWeightedAvg(df: DataFrame, keyCol: Column, tsCol: Column,
      valCol: Column, tieCols: Seq[Column] = Nil): DataFrame = {
    val tieNames = tieCols.indices.map(i => s"_t$i")
    val sel = Seq(keyCol.as("_k"), unix_micros(tsCol).as("_us"), valCol.as("_v")) ++
      tieCols.zip(tieNames).map { case (c, n) => c.as(n) }
    val order = col("_us").asc +: tieNames.map(col(_).asc)
    df.select(sel: _*)
      .withColumn("_dt", lead(col("_us"), 1).over(
        Window.partitionBy(col("_k")).orderBy(order: _*)) - col("_us"))
      .where(col("_dt").isNotNull && col("_v").isNotNull)
      .groupBy(col("_k").as("key"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("_dt")).as("dt_total_us"),
        sum(col("_v").cast("decimal(18,6)") * col("_dt")).as("_wsum"))
      .select(col("key"), col("n_intervals"), col("dt_total_us"),
        round(col("_wsum").cast("double") / col("dt_total_us").cast("double"), 6)
          .as("twap"))
  }

  /** Seasonal-naive forecast error (the MASE readout): per group, the
    * daily-total series is scored against two naive forecasts — the
    * season-lag value (x_{t-season}) and the one-step naive (x_{t-1}).
    * `mase_ppm` = ⌊10⁶ · (seasonal MAE) / (one-step MAE)⌋: < 10⁶
    * means "yesterday's week-ago value beats yesterday's value", the
    * standard scale-free forecastability screen in comparator-proof
    * fixed point.
    *
    * Exactness: totals, absolute errors AND the final ratio stay
    * integer (the ratio is one DECIMAL(38,0) floor-div — no double
    * ever leaves the operator); the lags are CALENDAR joins (day =
    * day - lag) on the aggregated per-day frame, so gaps in the series
    * pair nothing instead of silently pairing non-adjacent days.
    * Scale: one map-side-combinable aggregate over the fact table;
    * both self-joins run on the (group × days) frame, bounded by the
    * calendar span — never the raw rows.
    */
  def seasonalNaiveError(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column, season: Int = 7): DataFrame = {
    require(season >= 2, s"seasonalNaiveError: season must be >= 2, got $season")
    val daily = df.select(groupCol.as("_g"), dayCol.cast("long").as("_d"),
        centsCol.as("_c"))
      .where(col("_d").isNotNull && col("_c").isNotNull)
      .groupBy(col("_g"), col("_d")).agg(sum(col("_c")).as("_x"))
      .transform(CacheRegistry.checkpoint(_))
    def maeLeg(lag: Int, nAs: String, sumAs: String) =
      daily.as("cur")
        .join(daily.as("prev"),
          col("cur._g") === col("prev._g") &&
            col("cur._d") === col("prev._d") + lag)
        .groupBy(col("cur._g").as("_g"))
        .agg(count(lit(1)).as(nAs),
          sum(abs(col("cur._x") - col("prev._x"))).as(sumAs))
    maeLeg(season, "n_seasonal", "ae_seasonal_cents")
      .join(maeLeg(1, "n_naive", "ae_naive_cents"), Seq("_g"))
      .select(col("_g").as("group"), col("n_seasonal"),
        col("ae_seasonal_cents"), col("n_naive"), col("ae_naive_cents"),
        when(col("ae_naive_cents") > 0 && col("n_seasonal") > 0,
          expr("""CAST(CAST(ae_seasonal_cents AS DECIMAL(38,0)) * n_naive
                 | * 1000000 div (n_seasonal * ae_naive_cents) AS BIGINT)"""
            .stripMargin)).as("mase_ppm"))
  }

  /** One-way ANOVA F — the k-arm extension of the two-arm [[abTest]]
    * family ("do ANY of these cohorts differ in mean", the screen you
    * run before pairwise tests): F = (SSB/(k−1)) / (SSW/(N−k)), plus
    * η² = SSB/SST (the share of variance the grouping explains).
    *
    * Exactness: per-group count/sum/sum-of-squares are exact
    * DECIMAL(38,0) over integer inputs; the one order-sensitive
    * reduction — Σ_g S_g²/n_g — is the [[mutualInfo]] discipline (each
    * group's term rounded to 6dp DECIMAL, summed exactly), and the
    * final F/η² are one fixed IEEE shape over those scalars. Shape:
    * one map-combinable aggregate to the |groups| frame, one 1-row
    * summary — no windows, no joins. Degenerate inputs (k < 2,
    * N ≤ k, zero within-variance) return null F. Output one row:
    * (k, n, f, eta_sq).
    */
  def anovaF(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val per = df.where(groupCol.isNotNull && valueCol.isNotNull)
      .select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v").cast("decimal(38,0)")).as("_s"),
        sum(col("_v").cast("decimal(38,0)") * col("_v")).as("_q"))
    anovaFromPerGroup(per)
  }

  /** The F/η² scalar block over a per-group (_n, _s, _q) moment frame
    * — shared by [[anovaF]] (raw rows) and [[brownForsythe]] (weighted
    * deviation cells). Σ_g S_g²/n_g rides the per-group 6dp DECIMAL
    * term discipline so the one unordered reduction is order-proof.
    */
  private def anovaFromPerGroup(per0: DataFrame): DataFrame = {
    val per = per0.select(col("_n"), col("_s"), col("_q"),
      round((col("_s") * col("_s")).cast("double") / col("_n").cast("double"), 6)
        .cast("decimal(38,6)").as("_a"))
    val agg = per.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"),
      sum(col("_s")).as("_S"), sum(col("_q")).as("_Q"), sum(col("_a")).as("_A"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val grand = (col("_S") * col("_S")).cast("double") / nD
    val ssb = col("_A").cast("double") - grand
    val ssw = col("_Q").cast("double") - col("_A").cast("double")
    val sst = col("_Q").cast("double") - grand
    agg.select(col("k"), col("n"),
      when(col("k") >= 2L && col("n") > col("k") && ssw > 0.0d,
        round((ssb / (kD - 1.0d)) / (ssw / (nD - kD)), 6)).as("f"),
      when(sst > 0.0d, round(ssb / sst, 6)).as("eta_sq"))
  }

  /** Brown-Forsythe variance-homogeneity test — "do the groups differ
    * in SPREAD" (the precondition every equal-variance mean test
    * quietly assumes, and a drift readout in its own right: a feed
    * whose variance doubles at constant mean sails through
    * [[anovaF]]): one-way ANOVA F over the absolute deviations from
    * each group's MEDIAN (the robust Levene variant — means-based
    * Levene is fragile under exactly the heavy tails variance tests
    * screen for).
    *
    * Shape: the (group, value, count) cell frame ONCE, group medians
    * via [[cellQuantiles]], then the deviation moments as WEIGHTED
    * cell sums (Σc·z, Σc·z² with z = |v − median_g|) feeding the
    * shared [[anovaFromPerGroup]] scalar block — one row-scale scan
    * total, everything downstream bounded by the value domain.
    * Output one row: (k, n, f, eta_sq), F null on degenerate input.
    */
  def brownForsythe(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val cells = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c")))
    val med = cellQuantiles(cells, Seq(0.5)).select(col("_g"), col("_q0").as("_med"))
    val per = cells.join(med, Seq("_g"))
      .withColumn("_z", abs(col("_v") - col("_med")))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
        sum(col("_c").cast("decimal(38,0)") * col("_z")).as("_s"),
        sum(col("_c").cast("decimal(38,0)") * col("_z") * col("_z")).as("_q"))
    anovaFromPerGroup(per)
  }

  /** Kruskal-Wallis H — the rank-based (distribution-free) twin of
    * [[anovaF]], closing the k-arm family the way [[mannWhitney]]
    * closes the two-arm one: H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
    * over MIDRANKS, with the standard tie correction
    * C = 1 − Σ_v(t_v³−t_v)/(N³−N), h_corrected = H/C.
    *
    * Same no-global-sort shape as the whole rank family: one hash-agg
    * to the (value) count frame, ONE [[Relational.prefixSum]] CDF,
    * midranks DOUBLED into exact bigints (2·offset + c + 1), joined
    * back to the (group, value) cell frame — so R2_g = Σ c_gv·mr2(v)
    * is an exact integer and H = 3·Σ_g R2_g²/n_g /(N(N+1)) − 3(N+1)
    * needs only the [[mutualInfo]] per-group 6dp-term discipline for
    * its one unordered reduction. Output one row:
    * (k, n, h, h_corrected); null when N < 2, k < 2, or all values
    * tie (C = 0).
    */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val base = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_cgv")))
    val vcounts = base.groupBy(col("_v")).agg(sum(col("_cgv")).as("_c"))
    // doubled midrank per distinct value + the tie term t³−t;
    // persisted — the rank frame feeds both the per-group sum and the
    // tie total, and the prefix-sum pass should run once
    val ranked = CacheRegistry.persist(
      Relational.prefixSum(vcounts, Seq(col("_v")), col("_c"), "_cum")
        .select(col("_v"),
          (lit(2L) * (col("_cum") - col("_c")) + col("_c") + 1L).as("_mr2"),
          (col("_c").cast("decimal(38,0)") * col("_c") * col("_c") - col("_c"))
            .as("_tie")))
    val perGroup = base.join(ranked, Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("_cgv")).as("_n"),
        sum(col("_cgv").cast("decimal(38,0)") * col("_mr2")).as("_r2"))
      // Σ_g R2_g²/n_g as order-proof 6dp DECIMAL terms
      .select(col("_n"),
        round((col("_r2") * col("_r2")).cast("double") / col("_n").cast("double"), 6)
          .cast("decimal(38,6)").as("_b"))
    val ties = ranked.agg(sum(col("_tie")).as("_T"))
    val agg = perGroup
      .agg(count(lit(1)).as("k"), sum(col("_n")).as("n"), sum(col("_b")).as("_B"))
      .crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val h = lit(3.0d) * col("_B").cast("double") / (nD * (nD + 1.0d)) -
      lit(3.0d) * (nD + 1.0d)
    val c = lit(1.0d) - col("_T").cast("double") / (nD * nD * nD - nD)
    agg.select(col("k"), col("n"),
      when(col("k") >= 2L && col("n") >= 2L, round(h, 6)).as("h"),
      when(col("k") >= 2L && col("n") >= 2L && c > 0.0d,
        round(h / c, 6)).as("h_corrected"))
  }

  /** Dunn's post-hoc test — [[kruskalWallis]] only says "SOME group
    * differs"; Dunn says WHICH pairs do, comparing pooled mean ranks
    * with the tie-corrected pooled variance (the standard follow-up
    * once KW rejects; pairwise Mann-Whitneys re-rank per pair and
    * don't control against the pooled null).
    *
    * Rides the exact KW core unchanged — the (group, value, count)
    * cell frame, doubled midranks off ONE [[Relational.prefixSum]]
    * CDF pass, integer tie totals — then for each of the k(k−1)/2
    * group pairs one fixed IEEE shape (the [[kruskalWallis]]-`h`
    * discipline): z = (R̄_i − R̄_j) / √(σ²(1/n_i + 1/n_j)) with
    * σ² = (N(N+1)(N−1) − Σ(t³−t)) / (12(N−1)), mean ranks from the
    * exact doubled sums, rounded 6dp. The ±1.959964/±2.575829 normal
    * fences are pre-compared on the ROUNDED z (comparator-proof).
    * Pairs are emitted once, ordered by group name (g1 < g2).
    *
    * Shape: one row-scale groupBy + one prefix pass + a k-row
    * broadcast self-pair — no new shuffle beyond KW itself. Output
    * k(k−1)/2 rows: (g1, g2, n1, n2, z, sig_95, sig_99); z null when
    * the variance degenerates (all values tied).
    */
  def dunnTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = CacheRegistry.persist(
      df.where(groupCol.isNotNull && valueCol.isNotNull)
        .select(groupCol.cast("string").as("_g"), valueCol.cast("long").as("_v"))
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_cgv")))
    val vcounts = base.groupBy(col("_v")).agg(sum(col("_cgv")).as("_c"))
    val ranked = CacheRegistry.persist(
      Relational.prefixSum(vcounts, Seq(col("_v")), col("_c"), "_cum")
        .select(col("_v"),
          (lit(2L) * (col("_cum") - col("_c")) + col("_c") + 1L).as("_mr2"),
          (dec(col("_c")) * col("_c") * col("_c") - col("_c")).as("_tie")))
    val perGroup = base.join(ranked, Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("_cgv")).as("_n"),
        sum(dec(col("_cgv")) * col("_mr2")).as("_r2"))
    val globals = ranked.agg(sum(col("_tie")).as("_T"))
      .crossJoin(broadcast(perGroup.agg(sum(col("_n")).as("_N"))))
    val a = perGroup.select(col("_g").as("g1"), col("_n").as("n1"),
      col("_r2").as("_r2a"))
    val b = perGroup.select(col("_g").as("g2"), col("_n").as("n2"),
      col("_r2").as("_r2b"))
    val paired = a.crossJoin(broadcast(b)).where(col("g1") < col("g2"))
      .crossJoin(broadcast(globals))
    val nD = col("_N").cast("double")
    val bigD = (dec(col("_N")) * (col("_N") + 1L) * (col("_N") - 1L) -
      col("_T")).cast("double")
    val s2 = bigD / (lit(12.0d) * (nD - 1.0d))
    val gap = (col("_r2a").cast("double") / col("n1").cast("double") -
      col("_r2b").cast("double") / col("n2").cast("double")) / lit(2.0d)
    val z = round(gap / sqrt(s2 * (lit(1.0d) / col("n1").cast("double") +
      lit(1.0d) / col("n2").cast("double"))), 6)
    paired
      .withColumn("z", when(col("_N") >= 2L && bigD > 0.0d, z))
      .select(col("g1"), col("g2"), col("n1"), col("n2"), col("z"),
        when(col("z").isNotNull, abs(col("z")) > 1.959964d).as("sig_95"),
        when(col("z").isNotNull, abs(col("z")) > 2.575829d).as("sig_99"))
      .orderBy(col("g1"), col("g2"))
  }

  /** Cochran's Q — [[mcnemar]] generalized to k ≥ 2 paired binary
    * conditions ("did the same users convert under each of the k
    * variants"): per unit one flag per condition (presence-max over
    * the raw events), then the exact integer statistic
    *
    * {{{ Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) }}}
    *
    * (C_j condition totals, R_i per-unit totals, N = ΣR). The
    * denominator is Σ R_i(k−R_i) — zero exactly when every unit is
    * all-0 or all-1 (no within-unit variation), reported null. k = 2
    * reduces to McNemar's uncorrected χ² (spec-pinned). Conditions
    * are a FIXED literal set, so blocks are complete by construction
    * — absence is a 0, exactly how the paired design reads events.
    *
    * One per-unit aggregate (map-combinable, |units| rows) + one
    * 1-row total; ppm floor-div, comparator-proof.
    * Output: (n_units, k, n_success, q_ppm).
    */
  def cochranQ(df: DataFrame, unitCol: Column,
      conditions: Seq[(String, Column)]): DataFrame = {
    require(conditions.size >= 2,
      s"cochranQ: need >= 2 conditions, got ${conditions.size}")
    val k = conditions.size
    val flags = conditions.zipWithIndex.map { case ((_, f), i) =>
      max(when(f, 1L).otherwise(0L)).as(s"_x$i")
    }
    val per = df.where(unitCol.isNotNull)
      .groupBy(unitCol.as("_u")).agg(flags.head, flags.tail: _*)
      .withColumn("_r", conditions.indices.map(i => col(s"_x$i")).reduce(_ + _))
    val sums = conditions.indices.map(i => sum(col(s"_x$i")).as(s"_c$i"))
    val tot = per.agg(
      count(lit(1)).as("n_units"),
      (Seq(sum(col("_r")).as("_N"),
        sum(col("_r") * col("_r")).as("_R2")) ++ sums): _*)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sumC2 = conditions.indices
      .map(i => dec(col(s"_c$i")) * col(s"_c$i")).reduce(_ + _)
    tot.select(col("n_units"), lit(k.toLong).as("k"), col("_N").as("n_success"),
      (lit((k - 1).toLong) *
        (lit(k.toLong) * sumC2 - dec(col("_N")) * col("_N")) *
        lit(1000000L)).as("_qn"),
      dec(lit(k.toLong) * col("_N") - col("_R2")).as("_qd"))
      .select(col("n_units"), col("k"), col("n_success"),
        // numerator >= 0 (Cauchy-Schwarz: k·ΣC² >= N²), so the exact
        // integral `div` IS the floor — no decimal-scale rounding
        when(col("_qd") > 0, expr("_qn div _qd")).as("q_ppm"))
  }

  /** Friedman test — the repeated-measures sibling of
    * [[kruskalWallis]] (same units measured under every treatment;
    * KW assumes independent groups): values are midranked WITHIN each
    * complete block, and the tie-corrected statistic rides DOUBLED
    * integer midranks end-to-end:
    *
    * {{{ χ² = (k−1)·Σ_j (R'_j − n(k+1))² / (A' − C') }}}
    *
    * with R'_j = Σ_blocks mr2_ij, A' = Σ mr2², C' = n·k·(k+1)² — the
    * doubling cancels between numerator and denominator, so this is
    * EXACTLY the classic tie-corrected χ²_F, ppm floor-div at the
    * end. A' = C' (every block fully tied) reports null. Only blocks
    * observed under ALL k treatments enter (complete-block design);
    * `n_dropped` reports the incomplete ones — never silent.
    *
    * Shape: one (block, treatment) sum aggregate, per-block windows
    * over ≤ k rows, one k-row treatment aggregate, one 1-row summary.
    * Output: (n_blocks, n_dropped, k, chi2_ppm).
    */
  def friedman(df: DataFrame, blockCol: Column, treatCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df.where(blockCol.isNotNull && treatCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("_b"), treatCol.as("_t"))
      .agg(sum(valueCol.cast("long")).as("_v"))
    val k = cells.select(col("_t")).distinct()
    val withK = cells.crossJoin(broadcast(k.agg(count(lit(1)).as("_k"))))
    val sized = CacheRegistry.persist(
      withK.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("_b")))))
    // incomplete blocks reported, never silently dropped — lazily, no
    // driver-side action inside the operator
    val dropAgg = sized.agg(
      count_distinct(when(col("_bn") =!= col("_k"), col("_b")))
        .as("n_dropped"))
    // doubled within-block midrank: 2·#smaller + #equal + 1
    val ranked = sized.where(col("_bn") === col("_k"))
      .withColumn("_rk",
        rank().over(Window.partitionBy(col("_b")).orderBy(col("_v"))))
      .withColumn("_ties",
        count(lit(1)).over(Window.partitionBy(col("_b"), col("_v"))))
      .withColumn("_mr2", lit(2L) * col("_rk") + col("_ties") - 1L)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perTreat = ranked.groupBy(col("_t"))
      .agg(first(col("_k")).as("_k"), count(lit(1)).as("_n"),
        sum(col("_mr2")).as("_rj"), sum(dec(col("_mr2")) * col("_mr2")).as("_a"))
    perTreat
      .agg(first(col("_k")).as("k"), first(col("_n")).as("n_blocks"),
        sum((dec(col("_rj")) - dec(col("_n")) * (col("_k") + 1L)) *
          (dec(col("_rj")) - dec(col("_n")) * (col("_k") + 1L))).as("_num"),
        sum(col("_a")).as("_A"),
        first(dec(col("_n")) * col("_k") * (col("_k") + 1L) * (col("_k") + 1L))
          .as("_C"))
      .crossJoin(broadcast(dropAgg))
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        ((col("k") - 1L).cast("decimal(38,0)") * col("_num") * lit(1000000L))
          .as("_fn"),
        (col("_A") - col("_C")).as("_fd"))
      // numerator >= 0 (sum of squares), so integral `div` is the floor
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        when(col("_fd") > 0, expr("_fn div _fd")).as("chi2_ppm"))
  }

  /** Quade test — [[friedman]] with blocks WEIGHTED by their spread:
    * friedman gives every block one vote regardless of effect size;
    * Quade ranks the blocks by their value RANGE and weights each
    * block's within-ranks by that rank, so blocks where treatments
    * actually differ carry the decision — more powerful than friedman
    * at small k (the standard recommendation for k ≤ 5).
    *
    * Exact doubled-integer core: within-block doubled midranks mr2
    * (the friedman discipline), block-range doubled midranks Q2 off
    * ONE [[Relational.prefixSum]] CDF pass over the |blocks|-row
    * range frame, U = Q2·(mr2 − (k+1)) ∈ 4·S_ij exact integers, and
    *
    * {{{ F = (n−1)·ΣS_j² / (n·ΣU² − ΣS_j²) }}}
    *
    * (the ×16 doubling factors cancel) as one ppm floor, null when
    * the denominator degenerates (perfect agreement: A = B). Shape:
    * friedman's aggregates plus one range prefix pass — no new
    * row-scale work. Output: (n_blocks, n_dropped, k, f_ppm).
    */
  def quade(df: DataFrame, blockCol: Column, treatCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df.where(blockCol.isNotNull && treatCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("_b"), treatCol.as("_t"))
      .agg(sum(valueCol.cast("long")).as("_v"))
    val k = cells.select(col("_t")).distinct()
    val withK = cells.crossJoin(broadcast(k.agg(count(lit(1)).as("_k"))))
    val sized = CacheRegistry.persist(
      withK.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("_b")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_bn") =!= col("_k"), col("_b")))
        .as("n_dropped"))
    val kept = CacheRegistry.persist(sized.where(col("_bn") === col("_k")))
    val ranked = kept
      .withColumn("_rk",
        rank().over(Window.partitionBy(col("_b")).orderBy(col("_v"))))
      .withColumn("_ties",
        count(lit(1)).over(Window.partitionBy(col("_b"), col("_v"))))
      .withColumn("_mr2", lit(2L) * col("_rk") + col("_ties") - 1L)
    val ranges = kept.groupBy(col("_b"))
      .agg((max(col("_v")) - min(col("_v"))).as("_rg"))
    val rcells = ranges.groupBy(col("_rg")).agg(count(lit(1)).as("_c"))
    val rranked = Relational.prefixSum(rcells, Seq(col("_rg")), col("_c"),
        "_cum")
      .select(col("_rg"),
        (lit(2L) * (col("_cum") - col("_c")) + col("_c") + 1L).as("_q2"))
    val blockQ = ranges.join(rranked, Seq("_rg"))
      .select(col("_b"), col("_q2"))
    val perTreat = ranked.join(blockQ, Seq("_b"))
      .withColumn("_u", col("_q2") * (col("_mr2") - (col("_k") + 1L)))
      .groupBy(col("_t"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_u"))).as("_sj"),
        sum(dec(col("_u")) * col("_u")).as("_a"))
    perTreat
      .agg(first(col("_n")).as("n_blocks"), count(lit(1)).as("k"),
        sum(col("_sj") * col("_sj")).as("_b2"), sum(col("_a")).as("_A"))
      .crossJoin(broadcast(dropAgg))
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        when(col("n_blocks") >= 2L &&
          dec(col("n_blocks")) * col("_A") - col("_b2") > 0,
          expr("""CAST(((n_blocks - 1) * _b2 * 1000000)
            div (n_blocks * _A - _b2) AS BIGINT)""")).as("f_ppm"))
  }

  /** Kendall's W coefficient of concordance — [[friedman]] answers
    * "do the k treatments differ"; W answers "how strongly do the m
    * blocks AGREE on the treatment ranking", normalized to [0, 1]
    * (1 = every block ranks identically, 0 = rankings cancel). The
    * m-rater/k-item agreement statistic (inter-annotator ranking
    * consistency, judge panels, replicate orderings) — related by
    * the exact identity χ²_F = m(k−1)·W, which this emits BOTH sides
    * of, from one plan.
    *
    * Identical doubled-midrank integer core ([[friedman]]'s, tie
    * correction included): w_ppm = Σ(R'_j − m(k+1))²·10⁶ div
    * (m·(A' − C')) — the doubling cancels, so this is exactly the
    * tie-corrected W, one ppm floor (numerator a sum of squares, so
    * `div` IS the floor). Incomplete blocks drop and are counted.
    * All-tied blocks everywhere (A' = C') report null. Output one
    * row: (n_blocks, n_dropped, k, chi2_ppm, w_ppm).
    *
    * Shape: one (block, treatment) aggregate, per-block windows over
    * ≤ k rows, a k-row treatment aggregate, one summary row.
    */
  def kendallW(df: DataFrame, blockCol: Column, treatCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df.where(blockCol.isNotNull && treatCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("_b"), treatCol.as("_t"))
      .agg(sum(valueCol.cast("long")).as("_v"))
    val k = cells.select(col("_t")).distinct()
    val withK = cells.crossJoin(broadcast(k.agg(count(lit(1)).as("_k"))))
    val sized = CacheRegistry.persist(
      withK.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("_b")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_bn") =!= col("_k"), col("_b")))
        .as("n_dropped"))
    val ranked = sized.where(col("_bn") === col("_k"))
      .withColumn("_rk",
        rank().over(Window.partitionBy(col("_b")).orderBy(col("_v"))))
      .withColumn("_ties",
        count(lit(1)).over(Window.partitionBy(col("_b"), col("_v"))))
      .withColumn("_mr2", lit(2L) * col("_rk") + col("_ties") - 1L)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perTreat = ranked.groupBy(col("_t"))
      .agg(first(col("_k")).as("_k"), count(lit(1)).as("_n"),
        sum(col("_mr2")).as("_rj"), sum(dec(col("_mr2")) * col("_mr2")).as("_a"))
    perTreat
      .agg(first(col("_k")).as("k"), first(col("_n")).as("n_blocks"),
        sum((dec(col("_rj")) - dec(col("_n")) * (col("_k") + 1L)) *
          (dec(col("_rj")) - dec(col("_n")) * (col("_k") + 1L))).as("_num"),
        sum(col("_a")).as("_A"),
        first(dec(col("_n")) * col("_k") * (col("_k") + 1L) * (col("_k") + 1L))
          .as("_C"))
      .crossJoin(broadcast(dropAgg))
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        ((col("k") - 1L).cast("decimal(38,0)") * col("_num") * lit(1000000L))
          .as("_fn"),
        (col("_num") * lit(1000000L)).as("_wn"),
        (col("_A") - col("_C")).as("_fd"),
        (dec(col("n_blocks")) * (col("_A") - col("_C"))).as("_wd"))
      // both numerators are sums of squares, so `div` IS the floor
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        when(col("_fd") > 0, expr("_fn div _fd")).as("chi2_ppm"),
        when(col("_fd") > 0, expr("_wn div _wd")).as("w_ppm"))
  }

  /** Page's L trend test — [[friedman]]'s ordered-alternative
    * sibling, exactly as [[jonckheereTerpstra]] is [[kruskalWallis]]'s:
    * Friedman asks "do the k repeated treatments differ at all",
    * Page asks "do they increase in the STATED treatment order"
    * (learning curves over sessions, dose steps per subject),
    * weighting each treatment's within-block rank sum by its
    * hypothesized position: L = Σ_j j·R_j.
    *
    * Doubled-midrank integer core (the [[friedman]] discipline):
    * l2 = Σ_j j·R2_j with R2_j the doubled-midrank sum over complete
    * blocks, null mean e2 = 2E(L) = b·k(k+1)²/2 (always integral),
    * and the classic no-tie variance D/144 with
    * D = b·k²(k+1)(k²−1) — ties shrink the true variance, so z² is
    * conservative. z2_ppm = (l2−e2)²·36·10⁶ div D, exact to the one
    * floor. Incomplete blocks are dropped AND counted (`n_dropped`) —
    * never silent. Output one row:
    * (n_blocks, n_dropped, k, l2, e2, z2_ppm, trend_95, trend_99).
    *
    * Shape: identical to [[friedman]] — one (block, treatment)
    * aggregate, per-block windows over ≤ k rows, a k-row treatment
    * aggregate, one summary row.
    */
  def pageTrend(df: DataFrame, blockCol: Column, treatOrdCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df.where(blockCol.isNotNull && treatOrdCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("_b"), treatOrdCol.cast("long").as("_t"))
      .agg(sum(valueCol.cast("long")).as("_v"))
    val k = cells.select(col("_t")).distinct()
    val withK = cells.crossJoin(broadcast(k.agg(count(lit(1)).as("_k"))))
    val sized = CacheRegistry.persist(
      withK.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("_b")))))
    val dropAgg = sized.agg(
      count_distinct(when(col("_bn") =!= col("_k"), col("_b")))
        .as("n_dropped"))
    // doubled within-block midrank, then rank-of-ORDINAL weighting:
    // the hypothesized position j is the treatment's 1-based rank in
    // the ordinal's sort order, so arbitrary ordinal gaps (10,20,30)
    // weight identically to (1,2,3)
    val ranked = sized.where(col("_bn") === col("_k"))
      .withColumn("_rk",
        rank().over(Window.partitionBy(col("_b")).orderBy(col("_v"))))
      .withColumn("_ties",
        count(lit(1)).over(Window.partitionBy(col("_b"), col("_v"))))
      .withColumn("_mr2", lit(2L) * col("_rk") + col("_ties") - 1L)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perTreat = ranked.groupBy(col("_t"))
      .agg(first(col("_k")).as("_k"), count(lit(1)).as("_n"),
        sum(col("_mr2")).as("_rj"))
    // hypothesized position j = 1-based rank of the ordinal across
    // the k treatments — the distributed prefix-sum primitive, never
    // a global window (GateLint would rightly flag one even at k rows)
    val weighted = Relational
      .prefixSum(perTreat, Seq(col("_t")), lit(1L), "_j")
      .agg(first(col("_k")).as("k"), first(col("_n")).as("n_blocks"),
        sum(dec(col("_j")) * col("_rj")).as("_l2"))
    weighted.crossJoin(broadcast(dropAgg))
      .withColumn("_e2",
        expr("""CAST(n_blocks AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)
                div 2"""))
      .withColumn("_D",
        dec(col("n_blocks")) * col("k") * col("k") * (col("k") + 1L) *
          (col("k") * col("k") - 1L))
      .select(col("n_blocks"), col("n_dropped"), col("k"),
        col("_l2").cast("long").as("l2"), col("_e2").cast("long").as("e2"),
        when(col("_D") > 0,
          expr("""(_l2 - _e2) * (_l2 - _e2) * 36 * 1000000 div _D""")
            .cast("long")).as("z2_ppm"))
      .select(col("n_blocks"), col("n_dropped"), col("k"), col("l2"),
        col("e2"), col("z2_ppm"),
        (col("z2_ppm") > 3841459L).as("trend_95"),
        (col("z2_ppm") > 6634897L).as("trend_99"))
  }

  /** Benjamini-Hochberg FDR control — the multiple-testing gate a
    * metrics platform runs over THOUSANDS of simultaneous p-values
    * (per-metric A/B tests, per-feature drift tests) before anyone
    * reads "significant": rank p ascending, find the largest rank r
    * with p ≤ r·q/N, reject everything at or below that rank.
    *
    * The global rank rides [[Relational.prefixSums]] over the
    * (p, tie) total order — p-value collections are metric-catalog
    * scale and beyond, so no single-partition window — and the
    * cutoff rank is a 1-row aggregate broadcast back. The decision
    * threshold compares exact micro-p integers: p_micros ≤
    * (rank·q_ppm·N-scaled) floor form, so the reject frontier is
    * engine-exact with no float boundary. Output one row per input:
    * (id, p_micros, rank, rejected).
    */
  def bhFdr(df: DataFrame, idCol: Column, pMicrosCol: Column,
      qPpm: Long = 50000L): DataFrame = {
    require(qPpm > 0 && qPpm <= 1000000L,
      s"bhFdr: qPpm must be in (0, 1e6], got $qPpm")
    val base = df.where(idCol.isNotNull && pMicrosCol.isNotNull)
      .select(idCol.as("id"), pMicrosCol.cast("long").as("p_micros"))
    val ranked = CacheRegistry.persist(
      Relational.prefixSum(base, Seq(col("p_micros"), col("id")), lit(1L), "rank"))
    val n = ranked.agg(count(lit(1)).as("_n"))
    // p/1e6 <= r·q/1e6/N  <=>  p·N <= r·q_ppm (exact integers)
    val cutoff = ranked.crossJoin(broadcast(n))
      .where(col("p_micros") * col("_n") <= col("rank") * lit(qPpm))
      .agg(coalesce(max(col("rank")), lit(0L)).as("_cut"))
    ranked.crossJoin(broadcast(cutoff))
      .select(col("id"), col("p_micros"), col("rank"),
        (col("rank") <= col("_cut")).as("rejected"))
  }

  /** Holm-Bonferroni step-down — the FAMILY-WISE sibling of [[bhFdr]]
    * on the same integer-p frame: where BH bounds the expected
    * false-discovery FRACTION (screening), Holm bounds the chance of
    * even ONE false rejection (confirmatory calls), uniformly more
    * powerful than plain Bonferroni and valid under any dependence.
    * Ascending by p, rank k rejects iff EVERY j ≤ k passes
    * p_j ≤ α/(N−j+1) — the step-down stops at the first failure.
    *
    * Exact integers: p·(N−k+1) ≤ α_micros per rank (no division),
    * the prefix-AND collapsing to one `min(failing rank)` aggregate —
    * rank rides the same [[Relational.prefixSum]] range sort as BH
    * (ties broken by id; no global window). Output one row per
    * input: (id, p_micros, rank, rejected).
    */
  def holmBonferroni(df: DataFrame, idCol: Column, pMicrosCol: Column,
      alphaMicros: Long = 50000L): DataFrame = {
    require(alphaMicros > 0 && alphaMicros <= 1000000L,
      s"holmBonferroni: alphaMicros must be in (0, 1e6], got $alphaMicros")
    val base = df.where(idCol.isNotNull && pMicrosCol.isNotNull)
      .select(idCol.as("id"), pMicrosCol.cast("long").as("p_micros"))
    val ranked = CacheRegistry.persist(
      Relational.prefixSum(base, Seq(col("p_micros"), col("id")), lit(1L),
        "rank"))
    val n = ranked.agg(count(lit(1)).as("_n"))
    val firstFail = ranked.crossJoin(broadcast(n))
      .where(col("p_micros") * (col("_n") - col("rank") + 1L) >
        lit(alphaMicros))
      .agg(coalesce(min(col("rank")), lit(Long.MaxValue)).as("_ff"))
    ranked.crossJoin(broadcast(firstFail))
      .select(col("id"), col("p_micros"), col("rank"),
        (col("rank") < col("_ff")).as("rejected"))
  }

  /** Shared per-key demeaned frame behind [[ljungBox]] and
    * [[durbinWatson]]: joins each series row with its key's (n, Σx)
    * so the multiplied-out deviation y_t = n·x_t − Σx is an EXACT
    * decimal(38,0) — the [[kendallTauB]] trick of clearing the mean's
    * division before any product. One hash-agg + one join, both on
    * the key the downstream window re-uses, so the exchange is paid
    * once. Columns: key cols + `_x` (long), `_n`, `_s`, `_y`.
    */
  private def demeanedSeries(df: DataFrame, keyCol: Column,
      orderBy: Seq[Column], centsCol: Column): DataFrame = {
    val base = df.where(centsCol.isNotNull)
      .select((keyCol.as("_k") +: orderBy) :+ centsCol.cast("long").as("_x"): _*)
    val stats = base.groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"))
    base.join(stats, Seq("_k"))
      .withColumn("_y",
        col("_n").cast("decimal(38,0)") * col("_x") - col("_s"))
  }

  /** Ljung-Box portmanteau Q over a fixed lag set — the "is this
    * series white noise" test a forecasting pipeline runs on its
    * residuals (Box/Jenkins; the statsmodels `acorr_ljungbox`
    * contract):
    *
    * {{{ Q = n(n+2) Σ_k ρ_k² / (n−k),   ρ_k = Σ y_t·y_{t−k} / Σ y_t² }}}
    *
    * with y the demeaned series. The mean's division is cleared by
    * the multiplied-out y = n·x − Σx (exact decimal(38,0), see
    * [[demeanedSeries]]), so every Σ is an exact integer and doubles
    * appear only in the one fixed-shape final expression — the per-lag
    * terms are literal columns combined in lag order, never a
    * shuffle-ordered float sum. ALL lags ride ONE window pass
    * (per-key hash exchange, m lag columns) and one hash-agg.
    * Keys with n ≤ max(lags) or zero variance return null q_ppm.
    * Output: (key, n, rho ppm per lag as rho{k}_ppm, q_ppm).
    */
  def ljungBox(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column, lags: Seq[Int] = Seq(1, 2, 3, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1) && lags == lags.sorted &&
      lags.distinct == lags, s"ljungBox: lags must be distinct ascending >= 1, got $lags")
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val lagged = demeanedSeries(df, keyCol, orderBy, centsCol)
      .select(Seq(col("_k"), col("_n"), col("_y")) ++
        lags.map(k => lag(col("_y"), k).over(w).as(s"_y$k")): _*)
    val agg = lagged.groupBy(col("_k").as("key"))
      .agg(first(col("_n")).as("n"),
        (sum(col("_y") * col("_y")).as("_den") +:
          lags.map(k => sum(col("_y") * col(s"_y$k")).as(s"_num$k"))): _*)
    val nD = col("n").cast("double")
    def rho(k: Int) = col(s"_num$k").cast("double") / col("_den").cast("double")
    // fixed lag-order fold — the term sum's shape is in the PLAN, so
    // it is bit-stable and mirrors the oracle's literal (t1+t2+...)
    val q = lags.map(k => rho(k) * rho(k) / (nD - lit(k.toDouble)))
      .reduce(_ + _) * nD * (nD + lit(2.0d))
    val guard = col("n") <= lit(lags.max.toLong) ||
      col("_den").cast("double") <= 0.0d
    agg.select(Seq(col("key"), col("n")) ++
      lags.map(k => when(guard, lit(null).cast("long"))
        .otherwise(expr(s"CAST(round(CAST(_num$k AS DOUBLE) / CAST(_den AS DOUBLE) * 1000000) AS BIGINT)"))
        .as(s"rho${k}_ppm")) :+
      when(guard, lit(null).cast("long"))
        .otherwise(round(q * lit(1000000.0d)).cast("long")).as("q_ppm"): _*)
  }

  /** Partial autocorrelation at lags 1..3 — what [[ljungBox]]'s raw
    * ρ_k can't tell you: ρ₂ is inflated by ρ₁'s echo (an AR(1)
    * series shows ρ_k = ρ₁^k at EVERY lag); the PACF φ_kk is lag k's
    * correlation with the shorter lags REGRESSED OUT, the classic
    * AR-order readout (φ_kk ≈ 0 beyond the true order p). Computed
    * by the Durbin–Levinson recursion unrolled to depth 3:
    *
    * {{{ φ11 = ρ1;  φ22 = (ρ2 − ρ1²)/(1 − ρ1²);  φ21 = ρ1 − φ22·ρ1 }}}
    * {{{ φ33 = (ρ3 − φ21·ρ2 − φ22·ρ1)/(1 − φ21·ρ1 − φ22·ρ2) }}}
    *
    * Exactness: the ρ_k numerators/denominator are EXACT
    * decimal(38,0) sums over the multiplied-out demeaned series
    * ([[demeanedSeries]] — same frame, same ONE window pass as
    * ljungBox), and the recursion is a fixed-shape chain of IEEE
    * ops on those two-integer ratios — no float ever accumulates in
    * shuffle order. Keys with n ≤ 3, zero variance, or a degenerate
    * level-2/3 denominator report null at that level. Output:
    * (key, n, pacf1_ppm, pacf2_ppm, pacf3_ppm).
    */
  def pacf(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val lagged = demeanedSeries(df, keyCol, orderBy, centsCol)
      .select(Seq(col("_k"), col("_n"), col("_y")) ++
        (1 to 3).map(k => lag(col("_y"), k).over(w).as(s"_y$k")): _*)
    val agg = lagged.groupBy(col("_k").as("key"))
      .agg(first(col("_n")).as("n"),
        (sum(col("_y") * col("_y")).as("_den") +:
          (1 to 3).map(k => sum(col("_y") * col(s"_y$k")).as(s"_num$k"))): _*)
    val guard0 = col("n") <= 3L || col("_den").cast("double") <= 0.0d
    val staged = agg
      .withColumn("_r1", col("_num1").cast("double") / col("_den").cast("double"))
      .withColumn("_r2", col("_num2").cast("double") / col("_den").cast("double"))
      .withColumn("_r3", col("_num3").cast("double") / col("_den").cast("double"))
      .withColumn("_d2", lit(1.0d) - col("_r1") * col("_r1"))
      .withColumn("_p22",
        (col("_r2") - col("_r1") * col("_r1")) / col("_d2"))
      .withColumn("_p21", col("_r1") - col("_p22") * col("_r1"))
      .withColumn("_d3",
        lit(1.0d) - col("_p21") * col("_r1") - col("_p22") * col("_r2"))
    staged.select(col("key"), col("n"),
      when(guard0, lit(null).cast("long"))
        .otherwise(round(col("_r1") * lit(1000000.0d)).cast("long"))
        .as("pacf1_ppm"),
      when(guard0 || col("_d2") === 0.0d, lit(null).cast("long"))
        .otherwise(round(col("_p22") * lit(1000000.0d)).cast("long"))
        .as("pacf2_ppm"),
      when(guard0 || col("_d2") === 0.0d || col("_d3") === 0.0d,
        lit(null).cast("long"))
        .otherwise(round(
          (col("_r3") - col("_p21") * col("_r2") - col("_p22") * col("_r1"))
            / col("_d3") * lit(1000000.0d)).cast("long"))
        .as("pacf3_ppm"))
  }

  /** Hurst exponent via rescaled-range (R/S) analysis — the
    * long-memory readout none of the lag statistics give: [[pacf]]
    * sees a few lags, H sees the SCALING LAW. Split the series into
    * blocks of m ∈ `sizes`, compute each block's rescaled range
    * R/S(m), and read the slope of ln(avg R/S) against ln m: H ≈ ½
    * is a random walk's increments, H → 1 trending/persistent,
    * H → 0 mean-reverting. The feature-engineering classic for
    * "is this metric momentum or noise at EVERY horizon".
    *
    * Exactness: within a block of size m the cumulative deviation is
    * the multiplied-out integer W_t = m·(Σ_{j≤t}x_j) − (t+1)·S
    * (= m·Z_t, the [[demeanedSeries]] mean-clearing trick), so
    * R·m = max W − min W and S·m = √(m·Σx² − S²) are exact until ONE
    * IEEE division per block: R/S = (maxW−minW)/√(m·Q−S²). Block
    * ratios round once to 6dp DECIMAL and average exactly per size;
    * the ln-ln slope is a FIXED four-term closed form whose ln m
    * abscissas are embedded constants — nothing float ever sums in
    * shuffle order. Keys missing a full block at any size (or with a
    * zero-variance block average) report null. Output:
    * (key, n, hurst).
    *
    * Shape: one per-key index window, a ×|sizes| explode, per-(key,
    * size, block) windows each bounded by m rows, then k-row frames.
    */
  def hurstExponent(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column, sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.size >= 2 && sizes == sizes.sorted &&
      sizes.distinct == sizes && sizes.forall(_ >= 4),
      s"hurstExponent: sizes must be distinct ascending >= 4, got $sizes")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wIdx = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val indexed = df.where(centsCol.isNotNull)
      .select((keyCol.as("_k") +: orderBy) :+ centsCol.cast("long").as("_x"): _*)
      .withColumn("_i", row_number().over(wIdx).cast("long") - 1L)
    val n = indexed.groupBy(col("_k")).agg(count(lit(1)).as("n"))
    val exploded = indexed
      .select(col("_k"), col("_i"), col("_x"),
        explode(typedLit(sizes.map(_.toLong))).as("_m"))
      .withColumn("_blk", expr("_i div _m"))
      .withColumn("_p", col("_i") % col("_m"))
    val wBlk = Window.partitionBy(col("_k"), col("_m"), col("_blk"))
    val wRun = wBlk.orderBy(col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withW = exploded
      .withColumn("_cum", sum(col("_x")).over(wRun))
      .withColumn("_S", sum(col("_x")).over(wBlk))
      .withColumn("_Q", sum(dec(col("_x")) * col("_x")).over(wBlk))
      .withColumn("_cnt", count(lit(1)).over(wBlk))
      .where(col("_cnt") === col("_m"))
      .withColumn("_W", dec(col("_m")) * col("_cum") -
        dec(col("_p") + 1L) * col("_S"))
    val perBlock = withW.groupBy(col("_k"), col("_m"), col("_blk"))
      .agg(max(col("_W")).as("_maxW"), min(col("_W")).as("_minW"),
        first(col("_S")).as("_bs"), first(col("_Q")).as("_bq"))
      .where((dec(col("_m")) * col("_bq") - col("_bs") * col("_bs"))
        .cast("double") > 0.0d)
      .select(col("_k"), col("_m"),
        round((col("_maxW") - col("_minW")).cast("double") /
          sqrt((dec(col("_m")) * col("_bq") - col("_bs") * col("_bs"))
            .cast("double")), 6).cast("decimal(28,6)").as("_rs"))
    val perSize = perBlock.groupBy(col("_k"), col("_m"))
      .agg((sum(col("_rs")).cast("double") /
        count(lit(1)).cast("double")).as("_avg"))
      .where(col("_avg") > 0.0d)
      .withColumn("_v", log(col("_avg")))
    // fixed-order ln-ln slope: abscissas are compile-time constants,
    // the v-terms fold in literal size order — no shuffle-order sum
    val us = sizes.map(m => math.log(m.toDouble))
    val p = sizes.size.toDouble
    val sumU = us.sum
    val denom = p * us.map(u => u * u).sum - sumU * sumU
    val pivoted = perSize.groupBy(col("_k"))
      .agg(count(lit(1)).as("_have"),
        sizes.zipWithIndex.map { case (m, i) =>
          max(when(col("_m") === m.toLong, col("_v"))).as(s"_v$i")
        }: _*)
    val sumV = sizes.indices.map(i => col(s"_v$i")).reduce(_ + _)
    val sumUV = sizes.indices
      .map(i => lit(us(i)) * col(s"_v$i")).reduce(_ + _)
    pivoted.join(n, pivoted("_k") === n("_k"))
      .select(pivoted("_k").as("key"), col("n"),
        when(col("_have") === sizes.size.toLong,
          round((lit(p) * sumUV - lit(sumU) * sumV) / lit(denom), 6))
          .as("hurst"))
  }

  /** Gumbel block-maxima fit — the extreme-value readout a quantile
    * can't give: p99 describes the past sample, the fitted Gumbel
    * EXTRAPOLATES ("the worst day in a typical YEAR" from weekly
    * maxima) — capacity planning's return-level question.
    * Method-of-moments fit on per-block maxima:
    *
    * {{{ β = s·√6/π,   μ = x̄ − γ·β,   x_T = μ − β·ln(−ln(1−1/T)) }}}
    *
    * (γ the Euler–Mascheroni constant). Determinism discipline:
    * block maxima and their (n, Σ, Σ²) moments are exact integers;
    * √6/π, γ and the double-log return factor ln(−ln(1−1/T)) are
    * JVM-computed constants embedded literally in BOTH engines
    * (the [[hurstExponent]] constant discipline — no cross-libm
    * call); x̄, s and the two linear forms are one fixed IEEE shape,
    * 6dp. Keys with < 2 blocks or zero spread report null fit.
    * Output: (key, n_blocks, mean_max, beta, mu, rl).
    *
    * Shape: one (key, block) max aggregate (the only row-scale
    * shuffle), one per-key moment aggregate.
    */
  def gumbelFit(df: DataFrame, keyCol: Column, tickCol: Column,
      valueCol: Column, period: Long = 7L,
      returnPeriod: Long = 52L): DataFrame = {
    require(period >= 1 && returnPeriod >= 2,
      s"gumbelFit: period >= 1 and returnPeriod >= 2 required")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val maxima = df.where(valueCol.isNotNull && tickCol.isNotNull)
      .select(keyCol.as("_k"), tickCol.cast("long").as("_t"),
        valueCol.cast("long").as("_x"))
      .groupBy(col("_k"), expr(s"_t div ${period}L").as("_blk"))
      .agg(max(col("_x")).as("_mx"))
    val m = maxima.groupBy(col("_k").as("key"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("_mx"))).as("_s"),
        sum(dec(col("_mx")) * col("_mx")).as("_q"))
    val nD = col("n_blocks").cast("double")
    val mean = col("_s").cast("double") / nD
    val varNum = (dec(col("n_blocks")) * col("_q") - col("_s") * col("_s"))
    val s = sqrt(varNum.cast("double") / (nD * (nD - 1.0d)))
    val beta = s * lit(GumbelC1)
    val mu = mean - lit(GumbelGamma) * beta
    val rl = mu - beta *
      lit(math.log(-math.log(1.0 - 1.0 / returnPeriod.toDouble)))
    m.select(col("key"), col("n_blocks"),
      round(mean, 6).as("mean_max"),
      when(col("n_blocks") >= 2L && varNum > 0, round(beta, 6)).as("beta"),
      when(col("n_blocks") >= 2L && varNum > 0, round(mu, 6)).as("mu"),
      when(col("n_blocks") >= 2L && varNum > 0, round(rl, 6)).as("rl"))
  }

  /** √6/π and Euler–Mascheroni — the Gumbel moment constants, public
    * so the oracle embeds the IDENTICAL doubles.
    */
  val GumbelC1: Double = math.sqrt(6.0) / math.Pi
  val GumbelGamma: Double = 0.5772156649015329d

  /** Allan variance profile — [[hurstExponent]]'s metrology sibling:
    * where R/S reads one scaling SLOPE, AVAR(m) reads the noise
    * FLOOR at each averaging horizon m (σ²(m) = ½⟨(ȳ_{i+1}−ȳ_i)²⟩
    * over consecutive block means) — flat in m ⇒ white noise
    * averages away; rising ⇒ drift/random-walk where longer
    * averaging HURTS. The standard "how long should I average this
    * gauge" readout for metric pipelines.
    *
    * Exactness: block SUMS S_i are exact integers, the mean division
    * is cleared — AVAR(m) = Σ(S_{i+1}−S_i)² / (2·(B−1)·m²) — and the
    * readout is an exact integer-micros floor,
    * avar_micros = (ΣΔ²·10⁶) div (2·(B−1)·m²), entirely in
    * decimal(38,0): cents² magnitudes pass 2⁵³ at scale, where a
    * rounded IEEE division diverges across engines by one ulp in the
    * 6th decimal. Only full blocks pair; keys with < 2 full blocks
    * at a size report null for it. Shape: one per-key index window,
    * ×|sizes| explode, per-(key,size) block aggregate + lag window
    * over the BLOCK frame (n/m rows), one aggregate. Output one row
    * per (key, m): (key, m, n_blocks, avar_micros).
    */
  def allanVariance(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column, sizes: Seq[Int] = Seq(1, 4, 16, 64)): DataFrame = {
    require(sizes.nonEmpty && sizes == sizes.sorted &&
      sizes.distinct == sizes && sizes.forall(_ >= 1),
      s"allanVariance: sizes must be distinct ascending >= 1, got $sizes")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wIdx = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val indexed = df.where(centsCol.isNotNull)
      .select((keyCol.as("_k") +: orderBy) :+ centsCol.cast("long").as("_x"): _*)
      .withColumn("_i", row_number().over(wIdx).cast("long") - 1L)
    val blocks = indexed
      .select(col("_k"), col("_i"), col("_x"),
        explode(typedLit(sizes.map(_.toLong))).as("_m"))
      .groupBy(col("_k"), col("_m"), expr("_i div _m").as("_blk"))
      .agg(sum(col("_x")).as("_S"), count(lit(1)).as("_cnt"))
      .where(col("_cnt") === col("_m"))
    val wLag = Window.partitionBy(col("_k"), col("_m")).orderBy(col("_blk"))
    blocks
      .withColumn("_dS", col("_S") - lag(col("_S"), 1).over(wLag))
      .groupBy(col("_k").as("key"), col("_m").as("m"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("_dS")) * col("_dS")).as("_num"),
        count(col("_dS")).as("_pairs"))
      .select(col("key"), col("m"), col("n_blocks"),
        // exact integer micros floor: a 6dp double round here is NOT
        // engine-portable once avar·10⁶ passes 2⁵³ (hit at sf0.1 —
        // cents² magnitudes reach 10¹⁰), so the division never goes
        // through IEEE at all (numerator ≥ 0 ⇒ div == floor)
        when(col("_pairs") >= 1L,
          expr("""CAST((_num * 1000000)
            div (2 * _pairs * m * m) AS BIGINT)"""))
          .as("avar_micros"))
  }

  /** Durbin-Watson first-order autocorrelation statistic per key —
    * the regression-residual serial-correlation check (≈2 means no
    * lag-1 structure; <2 positive, >2 negative):
    *
    * {{{ DW = Σ_{t≥2} (x_t − x_{t−1})² / Σ_t (x_t − x̄)² }}}
    *
    * The mean clears via the same multiplied-out deviation as
    * [[ljungBox]] (numerator terms get the matching n² factor as
    * (n·Δx)², so the scale cancels exactly): both sums are exact
    * decimal(38,0), one per-key window for the lag, one hash-agg,
    * one double division at the end. Keys with n < 2 or zero
    * variance return null. Output: (key, n, dw_ppm).
    */
  def durbinWatson(df: DataFrame, keyCol: Column, orderBy: Seq[Column],
      centsCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(orderBy.map(_.asc): _*)
    val lagged = demeanedSeries(df, keyCol, orderBy, centsCol)
      .withColumn("_dx",
        col("_n").cast("decimal(38,0)") * (col("_x") - lag(col("_x"), 1).over(w)))
    lagged.groupBy(col("_k").as("key"))
      .agg(first(col("_n")).as("n"),
        sum(col("_y") * col("_y")).as("_den"),
        sum(col("_dx") * col("_dx")).as("_num"))
      .select(col("key"), col("n"),
        when(col("n") < 2L || col("_den").cast("double") <= 0.0d,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(round(CAST(_num AS DOUBLE) / CAST(_den AS DOUBLE) * 1000000) AS BIGINT)"))
          .as("dw_ppm"))
  }

  /** Likelihood-ratio G-test of independence on a contingency grid —
    * [[cramersV]]'s χ² sibling (G is additive across table collapses
    * and the form information theory prefers: G = 2N·MI in nats):
    *
    * {{{ G = 2 Σ_cells O·ln(O·N / (R·C)) }}}
    *
    * Zero cells contribute 0 (lim x·ln x), so the sum stays over the
    * OBSERVED cell frame (|X|·|Y|-bounded, margins broadcast back)
    * with no dense-grid materialization. Each cell's term is the
    * integer round of 2·O·ln(O·N/(R·C))·10⁶ — ln over an exact
    * int64 product ratio is the only transcendental, and the bigint
    * term sum is shuffle-order-proof. One row:
    * (n, r, c, dof, g_ppm).
    */
  def gTest(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.where(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val n = cells.agg(sum(col("n_xy")).as("_n"),
      count_distinct(col("x")).as("r"), count_distinct(col("y")).as("c"))
    cells
      .join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("_n"), col("r"), col("c"),
        expr("""CAST(round(2.0 * n_xy *
          ln(CAST(n_xy AS DOUBLE) * CAST(_n AS DOUBLE) /
             (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1000000)
          AS BIGINT)""").as("_t"))
      .groupBy(col("_n").as("n"), col("r"), col("c"))
      .agg(sum(col("_t")).as("g_ppm"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1L) * (col("c") - 1L)).as("dof"), col("g_ppm"))
  }

  /** Pettitt change-point test — the RANK-based single-break detector
    * beside the mean-shift CUSUM scan ([[changePoint]]): where CUSUM
    * reacts to any big value, Pettitt asks whether the values BEFORE
    * a split systematically rank above/below those after it (a
    * Mann-Whitney at every split), so one wild outlier day cannot
    * fake a break the way it drags a mean. The standard
    * "did the level of this metric shift, and when" test for
    * homogeneity of a monitoring series.
    *
    * Exact integer core: with per-group doubled midranks R2ᵢ = 2rᵢ
    * (ties exact), the split statistic collapses to
    *
    * {{{ U_t = Σ_{i≤t} Σ_{j>t} sgn(xᵢ−xⱼ) = Σ_{i≤t} R2ᵢ − t·(n+1) }}}
    *
    * (the Σ over j≠i of sgn(xᵢ−xⱼ) equals 2rᵢ−(n+1) with midranks,
    * and the within-prefix terms cancel by antisymmetry) — so the
    * whole scan is ONE per-group cumulative sum over days, never the
    * t×(n−t) pair sweep. K = max_t |U_t| over t ∈ [1, n−1], earliest
    * day on ties. The approximate tail 2·exp(−6K²/(n³+n²)) is
    * surfaced as its exact-integer exponent `x_micros =
    * 6K²·10⁶ div (n³+n²)` with `sig_95 = x_micros ≥ 3688880`
    * (ln 40 = 3.6888794…; the micros floor makes the fence
    * conservative by < 1e-6 — comparator-proof on every engine).
    *
    * Shape: one groupBy to the daily frame, midranks over the
    * per-group value DOMAIN (the [[cellQuantiles]] bound), one
    * per-group day-ordered cumulative window (bounded by days per
    * key, calendar-bounded at any corpus size), one closing
    * aggregate. Output per group: (group, n, k_abs, at_day,
    * x_micros, sig_95).
    */
  def pettitt(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = CacheRegistry.persist(
      df.select(groupCol.cast("string").as("_g"), dayCol.cast("long").as("_d"),
          centsCol.as("_x"))
        .where(col("_g").isNotNull && col("_d").isNotNull &&
          col("_x").isNotNull)
        .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs")))
    // doubled midranks over the per-group value domain
    val cells = daily.groupBy(col("_g"), col("_xs")).agg(count(lit(1)).as("_c"))
    val wv = Window.partitionBy(col("_g")).orderBy(col("_xs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("_cum", sum(col("_c")).over(wv))
      .select(col("_g"), col("_xs"),
        (lit(2L) * (col("_cum") - col("_c")) + col("_c") + 1L).as("_mr2"))
    val nPer = daily.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val wd = Window.partitionBy(col("_g")).orderBy(col("_d"))
    val u = daily.join(ranked, Seq("_g", "_xs"))
      .withColumn("_cum2", sum(col("_mr2"))
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_t", row_number().over(wd))
      .join(nPer, Seq("_g"))
      .where(col("_t") < col("_n"))
      .select(col("_g"), col("_n"), col("_d"),
        (col("_cum2") - col("_t") * (col("_n") + 1L)).as("_u"))
    u.groupBy(col("_g"), col("_n"))
      // max |U|, earliest day on ties: struct max on (|U|, −day)
      .agg(max(struct(abs(col("_u")).as("a"), (-col("_d")).as("nd")))
        .as("_m"))
      .select(col("_g").as("group"), col("_n").as("n"),
        col("_m.a").as("k_abs"), (-col("_m.nd")).as("at_day"))
      .withColumn("x_micros",
        expr("""CAST((6 * CAST(k_abs AS DECIMAL(38,0)) * k_abs * 1000000)
          div (CAST(n AS DECIMAL(38,0)) * n * n +
               CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""))
      .withColumn("sig_95", col("x_micros") >= 3688880L)
  }

  /** Bowker symmetry test — [[mcnemar]] generalized to k categories:
    * for PAIRED categorical observations per unit (first vs last
    * event type, label before vs after a model swap), is the flow
    * i→j balanced by j→i for every pair? Marginal drift with
    * direction — what a pair of independent histograms cannot see.
    *
    * {{{ χ² = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji) }}}
    *
    * summed over unordered pairs with any traffic; df = that pair
    * count. Exact integer ppm floors per pair term (squares ⇒
    * non-negative, div == floor), order-proof sum. The paired
    * readings are min_by/max_by over a caller-supplied UNIQUE order
    * key (ties would be engine-dependent — the key must totally
    * order each unit's rows). Diagonal units (first == last) carry
    * no information and drop. Shape: one per-unit aggregate, one
    * bounded (k²) cell aggregate, one closing row. Output:
    * (n_units, df, chi2_ppm).
    */
  def bowker(df: DataFrame, unitCol: Column, catCol: Column,
      orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "bowker: orderCols must be non-empty")
    val key = struct(orderCols: _*)
    val per = CacheRegistry.persist(
      df.where(unitCol.isNotNull && catCol.isNotNull)
        .groupBy(unitCol.as("_u"))
        .agg(min_by(catCol, key).as("_a"), max_by(catCol, key).as("_b")))
    val nUnits = per.agg(count(lit(1)).as("n_units"))
    val cells = per.where(col("_a") =!= col("_b"))
      .groupBy(least(col("_a"), col("_b")).as("_x"),
        greatest(col("_a"), col("_b")).as("_y"))
      .agg(sum(when(col("_a") < col("_b"), 1L).otherwise(0L)).as("_nf"),
        sum(when(col("_a") > col("_b"), 1L).otherwise(0L)).as("_nr"))
    cells.agg(count(lit(1)).as("df"),
        coalesce(sum(expr(
          "(_nf - _nr) * (_nf - _nr) * 1000000 div (_nf + _nr)")),
          lit(0L)).as("chi2_ppm"))
      .crossJoin(broadcast(nUnits))
      .select(col("n_units"), col("df"), col("chi2_ppm"))
  }

  /** Tukey HSD studentized-range statistics — the parametric post-hoc
    * beside [[dunnTest]]'s rank one: after [[anovaF]] rejects, WHICH
    * cohort-mean pairs differ, every pair measured against the SAME
    * pooled within-group variance (pairwise t-tests re-estimate noise
    * per pair and inflate the family error; Tukey's q is the standard
    * correction input). Emitted as the exact q statistic per pair —
    * critical fences depend on (k, N−k) studentized-range tables, so
    * the statistic is the stable, engine-checkable surface.
    *
    * Exactness: per-group within terms (n_g·Σx² − (Σx)²)/n_g are 6dp
    * decimal summands (the [[bartlett]] discipline — order-proof),
    * MSW = SSW/(N−k), and each pair's
    * q = |x̄ᵢ − x̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)) is ONE fixed IEEE
    * shape off exact sums, rounded 6dp, null when MSW degenerates.
    *
    * Shape: one row-scale groupBy to k rows, k² broadcast self-pair,
    * one 1-row total broadcast back — the [[dunnTest]] frame with
    * means instead of midranks. Output k(k−1)/2 rows:
    * (g1, g2, n1, n2, q).
    */
  def tukeyHsd(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v = valueCol.cast("long")
    val per = df.where(groupCol.isNotNull && valueCol.isNotNull)
      .groupBy(groupCol.cast("string").as("_g"))
      .agg(count(lit(1)).as("_n"), sum(dec(v)).as("_sx"),
        sum(dec(v) * v).as("_sxx"))
      .select(col("_g"), col("_n"), col("_sx"),
        round((dec(col("_n")) * col("_sxx") - col("_sx") * col("_sx"))
            .cast("double") / col("_n").cast("double"), 6)
          .cast("decimal(38,6)").as("_w"))
    val persisted = CacheRegistry.persist(per)
    val tot = persisted.agg(sum(col("_w")).as("_ssw"),
      sum(col("_n")).as("_N"), count(lit(1)).as("_k"))
    val a = persisted.select(col("_g").as("g1"), col("_n").as("n1"),
      col("_sx").as("_sx1"))
    val b = persisted.select(col("_g").as("g2"), col("_n").as("n2"),
      col("_sx").as("_sx2"))
    val dfree = (col("_N") - col("_k")).cast("double")
    val msw = col("_ssw").cast("double") / dfree
    val gap = abs(col("_sx1").cast("double") / col("n1").cast("double") -
      col("_sx2").cast("double") / col("n2").cast("double"))
    a.crossJoin(broadcast(b)).where(col("g1") < col("g2"))
      .crossJoin(broadcast(tot))
      // guard the variance itself: ANSI + CSE can hoist the division
      .withColumn("_msw",
        when(col("_N") > col("_k") && col("_ssw") > 0, msw))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        round(gap / sqrt(col("_msw") / lit(2.0d) *
          (lit(1.0d) / col("n1").cast("double") +
           lit(1.0d) / col("n2").cast("double"))), 6).as("q"))
      .orderBy(col("g1"), col("g2"))
  }

  /** Wald-Wolfowitz runs test (median form) — randomness of a daily
    * series' SEQUENCE, which [[mannKendall]] (monotone trend) and
    * [[pettitt]] (single level break) both miss: slow oscillation
    * clusters same-side days into few runs, day-to-day mean reversion
    * alternates into many; either rejects "independent around the
    * median". The classic residual-independence sanity check before
    * trusting any i.i.d.-assuming test on the same series.
    *
    * Exact core: per-group median via the [[groupedExactQuantiles]]
    * cell CDF, days equal to it dropped (the standard median form),
    * runs counted by one per-group lag over day order (calendar-
    * bounded input per key). With n1 above / n2 below, m = n1+n2:
    * z = (R − μ)/σ, μ = 2n1n2/m + 1, σ² = 2n1n2(2n1n2−m)/(m²(m−1)) —
    * both moments kept as exact integer ratios (fits int64 through
    * ~10⁴ distinct days — any calendar), ONE fixed IEEE shape
    * `A/m / √(vnum/vden)` with A = R·m − 2n1n2 − m, the variance
    * numerator null-guarded (the ANSI+CSE eager-division trap),
    * rounded 6dp. Output per group: (group, n1, n2, runs, z).
    */
  def runsTest(df: DataFrame, groupCol: Column, dayCol: Column,
      centsCol: Column): DataFrame = {
    val daily = CacheRegistry.persist(
      df.select(groupCol.cast("string").as("_g"), dayCol.cast("long").as("_d"),
          centsCol.as("_x"))
        .where(col("_g").isNotNull && col("_d").isNotNull &&
          col("_x").isNotNull)
        .groupBy(col("_g"), col("_d")).agg(sum(col("_x")).as("_xs")))
    val med = groupedExactQuantiles(daily, col("_g"), col("_xs"), Seq(0.5))
      .select(col("group").as("_g"), col("value").as("_med"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
    val signed = daily.join(broadcast(med), Seq("_g"))
      .where(col("_xs") =!= col("_med"))
      .select(col("_g"), col("_d"),
        when(col("_xs") > col("_med"), 1).otherwise(-1).as("_s"))
      .withColumn("_prev", lag(col("_s"), 1).over(w))
      .groupBy(col("_g"))
      .agg(sum(when(col("_s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_s") === -1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("_prev").isNull || col("_prev") =!= col("_s"), 1L)
          .otherwise(0L)).as("runs"))
    // a group whose every day sits ON the median loses all rows above
    // — zero-fill from the group universe so it still reports
    val counts = med.select(col("_g")).join(signed, Seq("_g"), "left")
      .select(col("_g"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("runs"), lit(0L)).as("runs"))
    val m = col("n1") + col("n2")
    val tw = lit(2L) * col("n1") * col("n2")
    val a = col("runs") * m - tw - m
    val vnum = tw * (tw - m)
    val vden = m * m * (m - 1L)
    counts
      .withColumn("_a", a)
      // null-guard every denominator itself: ANSI + codegen CSE can
      // evaluate a shared division before any branch guard
      .withColumn("_m", when(m > 0L, m))
      .withColumn("_vnum", when(vnum > 0L, vnum)) // null ⇒ z null
      .withColumn("_vden", when(vden > 0L, vden))
      .select(col("_g").as("group"), col("n1"), col("n2"), col("runs"),
        round(col("_a").cast("double") / col("_m").cast("double") /
          sqrt(col("_vnum").cast("double") / col("_vden").cast("double")), 6)
          .as("z"))
  }

  /** Jarque-Bera normality test — the closing readout on the
    * [[groupedMoments]] shape pass: JB = n/6·(S² + K²/4) against
    * χ²(2), the standard "is this metric's distribution still
    * normal-ish" gate on residuals and per-cohort KPIs (the moments
    * operator reports HOW a shape deviates; JB says WHETHER the
    * deviation is more than sampling noise).
    *
    * Rides [[groupedMoments]] unchanged (integer-mean-shifted exact
    * power sums) and computes JB from the ROUNDED 6dp skewness /
    * excess-kurtosis doubles — both engines see bit-identical inputs
    * into one fixed IEEE shape, and the 95% fence compares the
    * rounded statistic to the rounded χ²₂ critical value 5.991465
    * (comparator-proof). Output per group:
    * (group, n, skewness, kurtosis_excess, jb, sig_95); null on
    * degenerate (zero-variance) groups.
    */
  def jarqueBera(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val m = groupedMoments(df, groupCol, valueCol)
    val sk = col("skewness"); val ku = col("kurtosis_excess")
    val jb = col("n").cast("double") / lit(6.0d) *
      (sk * sk + ku * ku / lit(4.0d))
    m.select(col("group"), col("n"), sk, ku,
        when(sk.isNotNull && ku.isNotNull, round(jb, 6)).as("jb"))
      .withColumn("sig_95",
        when(col("jb").isNotNull, col("jb") >= lit(5.991465d)))
  }
}
