package graft.operators

import graft.core.CacheRegistry
import graft.functions.TypedAggregators
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-flight diagnostics for the two silent killers of 100 TB jobs:
  * key skew (one reducer drowning while 999 idle) and partition
  * imbalance. Cheap, single-pass, and deliberately approximate — the
  * point is to decide between a plain join, AQE skew splitting, and
  * [[Relational.saltedJoin]] BEFORE burning a cluster-day discovering
  * the answer.
  */
object Diagnostics {

  /** Single-scan key-skew profile of `df` grouped by `keys`:
    * total rows, a Misra-Gries estimate of the heaviest key counts
    * (undercounts by at most `rows/capacity` — capacity 1000 bounds
    * the error at 0.1%), and the share of the heaviest key. Returns a
    * LOCAL summary (collects `capacity` counters, not data).
    *
    * `saltFactorFor` turns the result into the salt a
    * [[Relational.saltedJoin]] would need: enough splits that the
    * hottest key's share lands near the mean partition load.
    */
  final case class SkewReport(
      totalRows: Long,
      topKeys: Seq[(String, Long)],
      shufflePartitions: Int) {
    /** Share of all rows on the single heaviest key (lower bound). */
    def topShare: Double =
      if (totalRows == 0L) 0.0 else topKeys.headOption.map(_._2.toDouble / totalRows).getOrElse(0.0)
    /** true when one key exceeds `factor`× the mean partition load —
      * the regime where AQE splitting or salting is worth it.
      */
    def isSkewed(factor: Double = 4.0): Boolean =
      topKeys.headOption.exists(_._2.toDouble > factor * totalRows / shufflePartitions)
    /** Salt factor that spreads the hottest key to ~mean partition
      * load (capped at the partition count — beyond that salting only
      * adds replication).
      */
    def saltFactorFor: Int =
      if (totalRows == 0L || topKeys.isEmpty) 1
      else math.min(shufflePartitions,
        math.max(1, math.ceil(topKeys.head._2.toDouble * shufflePartitions / totalRows).toInt))
  }

  def keySkew(df: DataFrame, keys: Seq[Column], topK: Int = 10,
      capacity: Int = 1000): SkewReport = {
    require(topK >= 1 && capacity >= topK,
      s"keySkew: need capacity ($capacity) >= topK ($topK) >= 1")
    val spark = df.sparkSession
    // ONE aggregation pass carries both the MG sketch (as a udaf) and
    // the row count — profiling a derived frame never re-executes its
    // lineage twice. Null key parts get an explicit sentinel before
    // concat_ws (which otherwise SKIPS nulls, aliasing ("a", null)
    // with (null, "a") and null with "").
    val hhUdaf = udaf(TypedAggregators.heavyHitters(capacity),
      org.apache.spark.sql.Encoders.STRING)
    val parts = keys.map(k =>
      coalesce(k.cast("string"), lit("\u0002null\u0002")))
    val keyed = df.select(concat_ws("\u0001", parts: _*).as("k"))
    val row = keyed.agg(hhUdaf(col("k")).as("hh"), count(lit(1)).as("n")).head()
    SkewReport(
      row.getAs[Long]("n"),
      row.getAs[Map[String, Long]]("hh").toSeq.sortBy(-_._2).take(topK),
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** EXACT distributed key-skew report — the auditable complement of
    * the sketch-based [[keySkew]]: one `groupBy(keys).count()` shuffle
    * (map-side partial aggregation makes the shuffle |distinct keys|
    * rows, not |rows|), a broadcast 1-row total, and a top-`topK`
    * take. Returns `topK` rows ranked by count with a deterministic
    * key tiebreak:
    *
    *   rnk, key, cnt, share_ppm, salt_factor
    *
    * All derived columns are INTEGER math, so the report is bit-equal
    * across engines: `share_ppm = cnt·1e6 div total` and
    * `salt_factor = min(partitions, max(1, ceil(cnt·partitions /
    * total)))` computed as `(cnt·P + total − 1) div total` — the salt
    * a [[Relational.saltedJoin]] needs to spread the hottest key to
    * ~mean partition load. Null key parts get the same sentinel
    * treatment as [[keySkew]].
    */
  def skewReport(df: DataFrame, keys: Seq[Column], topK: Int = 10,
      partitions: Int = 0): DataFrame = {
    require(topK >= 1, s"skewReport: topK must be >= 1, got $topK")
    val p =
      if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = keys.map(k =>
      coalesce(k.cast("string"), lit("null")))
    val counts = df
      .select(concat_ws("", parts: _*).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_total")) // 1 row, broadcast
    // rank the topK-row frame with the prefix-sum primitive instead of
    // a no-partition window: bounded either way, but this keeps the
    // gate free of WindowExec single-partition warnings
    Relational.prefixSum(
        counts.crossJoin(broadcast(total))
          .orderBy(col("cnt").desc, col("key").asc)
          .limit(topK),
        Seq(col("cnt").desc, col("key").asc), lit(1L), "_rnk")
      .select(
        col("_rnk").cast("int").as("rnk"),
        col("key"), col("cnt"),
        expr("cnt * 1000000L div _total").as("share_ppm"),
        least(lit(p.toLong), greatest(lit(1L),
          expr(s"(cnt * ${p}L + _total - 1L) div _total"))).as("salt_factor"))
      .orderBy(col("rnk"))
  }

  /** Functional-dependency check lhs → rhs: a data-contract assertion
    * ("order_id determines currency", "user_id determines region")
    * verified in ONE aggregate pass. Returns a single summary row —
    * (n_lhs, n_violating, max_rhs_per_lhs, fd_holds) — because at
    * 100 TB the per-violation listing is itself a table you'd filter
    * on demand, while the contract gate only needs the counts.
    *
    * Shape: groupBy(lhs) with a count_distinct(rhs) leg (one Expand
    * pass), then a tiny second aggregate over |lhs groups| rows. Null
    * lhs parts get the [[keySkew]] sentinel; null rhs counts as a
    * value (two rhs where one is null IS a violation).
    */
  def fdCheck(df: DataFrame, lhs: Seq[Column], rhs: Column): DataFrame = {
    require(lhs.nonEmpty, "fdCheck: need at least one lhs column")
    val parts = lhs.map(k => coalesce(k.cast("string"), lit("null")))
    df.select(concat_ws("", parts: _*).as("_l"),
        coalesce(rhs.cast("string"), lit("null")).as("_r"))
      .groupBy(col("_l"))
      .agg(count_distinct(col("_r")).as("_nr"))
      .agg(
        count(lit(1)).as("n_lhs"),
        sum(when(col("_nr") > 1L, 1L).otherwise(0L)).as("n_violating"),
        max(col("_nr")).as("max_rhs_per_lhs"),
        (sum(when(col("_nr") > 1L, 1L).otherwise(0L)) === 0L).as("fd_holds"))
  }

  /** Benford first-digit profile of a positive integer measure —
    * the forensic screen for fabricated/synthetic numeric columns.
    * Exact integer surface: per leading digit the observed count,
    * observed ppm, the Benford expectation ⌊log₁₀(1+1/d)·10⁶⌋ ppm
    * (ln-ratio — deterministic IEEE), and the signed deviation. One
    * partial-agg shuffle of ≤ 9 rows; rows with a non-positive value
    * are excluded (Benford is defined on positive magnitudes).
    * The first digit comes from the value's DECIMAL STRING — exact at
    * any magnitude, immune to float log edge cases.
    */
  def benfordDigits(df: DataFrame, valueCol: Column): DataFrame = {
    val counts = df
      .where(valueCol.isNotNull && valueCol > 0)
      .select(substring(valueCol.cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(
        col("digit"), col("n"),
        expr("n * 1000000L div _t").as("obs_ppm"),
        floor(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * 1000000.0).cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("benford_ppm"))
  }

  /** PLAN LINT — the pre-flight review PlanShapeSpec applies to this
    * repo's own operators, exposed for user queries: walk the
    * optimized physical plan and flag the four cluster-killers BEFORE
    * they burn a 1000-executor day. Returns one row per finding
    * (rule, severity, detail); empty = clean.
    *
    *  - `cartesian-product`: an unconditioned cross join — output is
    *    |L|·|R|.
    *  - `global-window`: a window with ORDER BY but no PARTITION BY —
    *    the whole input collapses into ONE task. Downgraded to the
    *    info-level `global-window-bounded` only when the window's
    *    DIRECT unary input chain is LIMIT-bounded (a top-k frame
    *    being ranked) — a limit below a join/union doesn't bound the
    *    window's input and keeps the error severity.
    *  - `global-sort-no-limit`: a total sort that doesn't feed a
    *    take — usually a `prefixSums`/`globalIndex` job mis-spelled.
    *  - `nested-loop-join`: BroadcastNestedLoopJoin on a non-cross
    *    type — an equi-join that lost its keys.
    *  - `trivial-join-predicate`: a join condition comparing an
    *    attribute to ITSELF (`a.id = a.id` — both legs resolved to
    *    the same column of the same lineage). Always true, so the
    *    join silently degrades toward a cross product, and it means a
    *    self-join leaned on Spark's automatic disambiguation instead
    *    of explicit aliases — a cross-version correctness hazard.
    *
    * Inspection only — the frame is analyzed, not executed.
    */
  def planLint(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val spark = df.sparkSession
    import spark.implicits._
    // typed tree walk, not string matching — plan renderings drift
    // across Spark versions, node classes don't. The PRE-adaptive
    // plan: lint runs before execution, and AQE's wrapper nodes would
    // hide the subtrees behind leaf query stages.
    val root: SparkPlan = df.queryExecution.sparkPlan
    val nodes = root.collect { case p => p }
    val hasTake = nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec])
    val findings = nodes.flatMap {
      case c: CartesianProductExec =>
        Some(("cartesian-product", "error", c.simpleStringWithNodeId().take(160)))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        // a no-partition window whose DIRECT input chain is
        // LIMIT-bounded (top-k then rank-the-k) holds <= k rows by
        // construction — report it as info, not a cluster-killer.
        // Walk only the unary chain feeding the window: a find() over
        // the whole subtree would be fooled by a LIMIT anywhere below
        // — e.g. on the small side of a join whose other side is
        // corpus-scale — so stop at the first join/union/leaf.
        val limitBounded = {
          var n: SparkPlan = w.child
          var found = false
          var walking = true
          while (walking) n match {
            case _: org.apache.spark.sql.execution.GlobalLimitExec |
                _: org.apache.spark.sql.execution.CollectLimitExec |
                _: TakeOrderedAndProjectExec =>
              found = true; walking = false
            case u if u.children.length == 1 => n = u.children.head
            case _ => walking = false
          }
          found
        }
        if (limitBounded)
          Some(("global-window-bounded", "info",
            w.simpleStringWithNodeId().take(160)))
        else
          Some(("global-window", "error", w.simpleStringWithNodeId().take(160)))
      case j: BroadcastNestedLoopJoinExec
          if j.joinType != org.apache.spark.sql.catalyst.plans.Cross =>
        Some(("nested-loop-join", "warn", j.simpleStringWithNodeId().take(160)))
      case s: SortExec if s.global && !hasTake =>
        Some(("global-sort-no-limit", "warn", s.simpleStringWithNodeId().take(160)))
      case _ => None
    }
    // trivially-true equality must be caught BEFORE optimization: the
    // optimizer folds `a = a` away and the degenerate join reaches the
    // physical plan disguised as a plain (often nested-loop) join.
    val trivial = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.toSeq.flatMap(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.EqualTo
              if e.left.semanticEquals(e.right) => e.sql
          case e: org.apache.spark.sql.catalyst.expressions.EqualNullSafe
              if e.left.semanticEquals(e.right) => e.sql
        })
    }.flatten.map(s => ("trivial-join-predicate", "error", s.take(160)))
    (findings ++ trivial).toSeq.toDF("rule", "severity", "detail")
  }

  /** Per-partition row counts — imbalance at a glance (returns
    * |partitions| rows: partition id, rows).
    */
  def partitionHistogram(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"))

  /** ONE-SCAN column profiler — the dataset-card / data-contract
    * summary (row count, null count, exact distinct count, min, max
    * per column) a pipeline publishes next to every table it writes.
    *
    * Scale design: the pruned k-column projection is scanned ONCE
    * (persisted through the CacheRegistry) and feeds TWO single-row
    * aggregates — the plain legs (count/nulls/min/max) and the multi
    * count-DISTINCT legs (one Expand(k)+aggregate, not k scans) —
    * cross-joined back together. Splitting is deliberate and measured:
    * fusing plain and distinct aggregates into one Aggregate drags
    * every plain leg through the distinct path's Expand (k+1 copies of
    * each row, all min/max buffers evaluated per copy) and runs ~9×
    * slower at sf0.1 (8.7 s fused vs 0.7+0.9 s split). At 100 TB the
    * cached projection spills to disk (MEMORY_AND_DISK) but still
    * beats re-decoding the source scan. The final long-form pivot is a
    * `stack` over one joined row — free at any scale.
    *
    * min/max surface as strings so one schema covers heterogeneous
    * column types; restrict to integral / string / date / timestamp
    * columns when the output must hash-match another engine (float
    * rendering differs across engines).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    val pruned = CacheRegistry.persist(df.select(cols.map(col): _*))
    val plainAggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"_nn$i"),
        min(col(c)).cast("string").as(s"_mn$i"),
        max(col(c)).cast("string").as(s"_mx$i"))
    }
    val plain = pruned.agg(count(lit(1)).as("_n"), plainAggs: _*)
    val ndAggs = cols.zipWithIndex.map { case (c, i) =>
      count_distinct(col(c)).as(s"_nd$i")
    }
    val nd = pruned.agg(ndAggs.head, ndAggs.tail: _*)
    val one = plain.crossJoin(nd) // both sides are exactly one row
    val stacked = cols.indices.map(i =>
      s"'${cols(i)}', _n, _n - _nn$i, _nd$i, _mn$i, _mx$i").mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stacked) AS " +
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)")
  }

  /** MERGEABLE profile state — the day-2 shape of [[profile]]. At
    * 100 TB a daily full-table profile re-scans the whole corpus;
    * the right pattern (Deequ's metric-state pattern) is a per-batch
    * STATE that merges: counts add, typed min/max re-min/re-max, and
    * distinct counts become Datasketches HLL sketches whose union is
    * exactly the sketch of the union. Profile each day's delta,
    * union-merge the 1-row states, finish — the standing corpus is
    * never rescanned (the same incremental contract as
    * `Dedup.dedupIncremental` and the IVF frozen-codebook add).
    *
    * One row wide, all aggregates plain (the HLL sketch agg is NOT a
    * distinct rewrite — no Expand, so state-building is a single
    * cheap pass, unlike [[profile]]'s exact-distinct leg). min/max
    * stay TYPED in the state (string min/max would order "10" < "9");
    * [[profileFinish]] casts at the very end.
    */
  def profileState(df: DataFrame, cols: Seq[String], lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "profileState: need at least one column")
    import org.apache.spark.sql.types._
    // the sketch agg accepts int/bigint/string/binary only; other
    // types sketch their canonical string form (same distinct count)
    def sketchable(c: String): Column = df.schema(c).dataType match {
      case IntegerType | LongType | StringType | BinaryType => col(c)
      case _ => col(c).cast("string")
    }
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"_nn$i"),
        min(col(c)).as(s"_mn$i"),
        max(col(c)).as(s"_mx$i"),
        hll_sketch_agg(sketchable(c), lit(lgK)).as(s"_sk$i"))
    }
    df.agg(count(lit(1)).as("_n"), aggs: _*)
  }

  /** Merge any number of [[profileState]] frames (1 row each, same
    * `cols`) into one state: counts sum, min/max fold, sketches
    * `hll_union_agg`. Associative and commutative — daily states can
    * roll up bottom-up in any order.
    */
  def mergeProfileStates(states: Seq[DataFrame], cols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeProfileStates: need at least one state")
    val aggs = cols.indices.flatMap { i =>
      Seq(
        sum(col(s"_nn$i")).as(s"_nn$i"),
        min(col(s"_mn$i")).as(s"_mn$i"),
        max(col(s"_mx$i")).as(s"_mx$i"),
        hll_union_agg(col(s"_sk$i"), lit(true)).as(s"_sk$i"))
    }
    states.reduce(_ unionByName _).agg(sum(col("_n")).as("_n"), aggs: _*)
  }

  /** Long-form profile from a (possibly merged) state. Identical
    * schema to [[profile]] except `n_distinct_est` — the HLL estimate
    * (±~1.6% at the default lgK=12) instead of the exact count.
    */
  def profileFinish(state: DataFrame, cols: Seq[String]): DataFrame = {
    val projected = state.select(col("_n") +: cols.indices.flatMap(i => Seq(
      col(s"_nn$i"),
      coalesce(hll_sketch_estimate(col(s"_sk$i")), lit(0L)).as(s"_nd$i"),
      col(s"_mn$i").cast("string").as(s"_mns$i"),
      col(s"_mx$i").cast("string").as(s"_mxs$i"))): _*)
    val stacked = cols.indices.map(i =>
      s"'${cols(i)}', _n, _n - _nn$i, _nd$i, _mns$i, _mxs$i").mkString(", ")
    projected.selectExpr(
      s"stack(${cols.size}, $stacked) AS " +
        "(column_name, n_rows, n_nulls, n_distinct_est, min_val, max_val)")
  }
}
