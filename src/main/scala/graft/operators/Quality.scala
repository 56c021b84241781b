package graft.operators

import graft.core.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over a frame — the contract
  * layer a production pipeline runs BEFORE writing a table downstream
  * consumers trust (dbt-test / Deequ shape, re-expressed as one Spark
  * aggregate).
  *
  * Every check compiles to a conditional aggregate over ONE pass of
  * the input (a single partial-aggregating scan, no per-check jobs,
  * no collect of data — the result is |checks| rows). Checks:
  *
  *  - `notNull(col)` — no nulls
  *  - `unique(cols…)` — no duplicate key combinations
  *  - `accepted(col, values)` — domain membership
  *  - `inRange(col, lo, hi)` — numeric bounds (nulls don't trip it;
  *    pair with notNull to forbid them)
  *  - `satisfies(name, predicate)` — arbitrary boolean column
  *  - `rowCountBetween(lo, hi)` — table-level cardinality bound
  *
  * Returns `(check, violations, pass)` — one row per check.
  * `requireAll` throws on the first report with failures (the
  * write-gate form).
  */
object Quality {

  /** A named expectation: `violations` is a conditional aggregate
    * counting rows (or groups) that break the contract.
    */
  final case class Check(name: String, violations: Column)

  def notNull(c: String): Check =
    Check(s"not_null($c)", count(when(col(c).isNull, 1)))

  def accepted(c: String, values: Seq[Any]): Check =
    Check(s"accepted($c)",
      count(when(!col(c).isin(values: _*) || col(c).isNull, 1)))

  def inRange(c: String, lo: Double, hi: Double): Check =
    Check(s"in_range($c)", count(when(col(c) < lo || col(c) > hi, 1)))

  def satisfies(name: String, predicate: Column): Check =
    Check(s"satisfies($name)", count(when(!coalesce(predicate, lit(false)), 1)))

  def rowCountBetween(lo: Long, hi: Long): Check =
    Check(s"row_count[$lo,$hi]",
      when(count(lit(1)).between(lo, hi), lit(0L)).otherwise(lit(1L)))

  /** Uniqueness needs its own grouped pass (duplicate key combos);
    * still one aggregate, output = 1 row.
    */
  def uniqueViolations(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(count(when(col("_n") > 1, 1)).as("violations"))

  /** Run all checks in ONE aggregate pass (+ one grouped pass per
    * `unique` constraint) and union the reports.
    */
  def expect(df: DataFrame, checks: Seq[Check], unique: Seq[Seq[String]] = Nil): DataFrame = {
    require(checks.nonEmpty || unique.nonEmpty, "expect: no checks given")
    // Each check's aggregate is aliased by its name; duplicates (two
    // inRange on one column, two rowCountBetween, ...) would collide
    // into ambiguous columns and fail at stack()-resolution with an
    // opaque AnalysisException — fail here with the actual culprits.
    val dup = checks.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dup.isEmpty,
      s"expect: duplicate check names ${dup.mkString(", ")} — " +
        "give colliding checks distinct names via satisfies(name, ...)")
    val scalar =
      if (checks.isEmpty) Seq.empty[DataFrame]
      else {
        // one wide aggregate row, unpivoted lazily with stack() — the
        // report is a plan like every other query, nothing runs until
        // the caller acts on it
        val aggs = checks.map(ch => ch.violations.cast("long").as(ch.name))
        val stackArgs = checks
          .map(ch => s"'${ch.name.replace("'", "''")}', `${ch.name}`").mkString(", ")
        Seq(df.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${checks.length}, $stackArgs) AS (check, violations)"))
      }
    val uniq = unique.map(cols =>
      uniqueViolations(df, cols)
        .select(lit(s"unique(${cols.mkString(",")})").as("check"),
          col("violations").cast("long")))
    (scalar ++ uniq).reduce(_ unionAll _)
      .withColumn("pass", col("violations") === 0L)
  }

  /** The write gate: throw (listing every failed check) unless all
    * expectations hold.
    */
  def requireAll(df: DataFrame, checks: Seq[Check], unique: Seq[Seq[String]] = Nil): Unit = {
    val failed = expect(df, checks, unique)
      // bounded: at most |checks| + |unique| one-row verdicts
      .where(!col("pass")).collect()
      .map(r => s"${r.getString(0)}: ${r.getLong(1)} violations")
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"data-quality expectations failed:\n  ${failed.mkString("\n  ")}")
  }

  /** Corpus snapshot diff — the day-2 regression check run between two
    * versions of a table before promoting the new one: classify every
    * key as `added` / `removed` / `changed` / `unchanged` by comparing
    * content FINGERPRINTS ([[graft.functions.TextFunctions.fingerprint]]:
    * md5 of whitespace/case-normalized content), so the join carries
    * `(key, 16-byte fp)` — never payloads. One full-outer hash join on
    * the key; at 100 TB both projections prune to two columns at the
    * scan and the shuffle is keys + fingerprints. Aggregate the result
    * for the release-gate summary (`groupBy(status).count`), or
    * anti-filter `changed` for targeted re-validation.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val o = oldDf.select(col(idCol).as("id"), fingerprint(col(contentCol)).as("_fp_old"))
    val n = newDf.select(col(idCol).as("id"), fingerprint(col(contentCol)).as("_fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("_fp_old").isNull, "added")
          .when(col("_fp_new").isNull, "removed")
          .when(col("_fp_old") === col("_fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** SCD-2 snapshot merge — fold a day-N full snapshot into a
    * slowly-changing-dimension history (the metadata-management step a
    * training-data pipeline runs on its document/license/source
    * catalogs; Kimball type-2, the `MERGE` pattern of Delta/Iceberg
    * re-expressed as one join):
    *
    *  - key absent from history        → open a new version
    *    `[asOf, null)`
    *  - current attrs differ (null-safe) → close the current version
    *    at `asOf` AND open a new one
    *  - current attrs equal            → untouched
    *  - key absent from snapshot       → closed at `asOf` when
    *    `closeMissing` (logical delete), else left open
    *
    * Scale shape: already-closed versions NEVER join — they union
    * through untouched, so the one hash join carries only the current
    * slice vs the snapshot (at 100 TB the history is mostly closed
    * rows; the join stays proportional to the live key space). The
    * changed-key case emits its two rows from one joined row via an
    * inline array → no second join, no double scan. Output schema =
    * `keyCols ++ attrCols ++ (validFromCol, validToCol)`.
    *
    * Contract: at most ONE open (`validToCol` null) version per key in
    * `history`, and one row per key in `snapshot` — the SCD-2
    * invariant itself. Duplicates multiply through the join exactly as
    * they would in a SQL MERGE.
    */
  def scd2Merge(
      history: DataFrame,
      snapshot: DataFrame,
      keyCols: Seq[String],
      attrCols: Seq[String],
      asOf: Long,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to",
      closeMissing: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "scd2Merge: keyCols must be non-empty")
    require(attrCols.nonEmpty, "scd2Merge: attrCols must be non-empty")
    val outCols = keyCols ++ attrCols :+ validFromCol :+ validToCol
    val closed = history.where(col(validToCol).isNotNull)
      .select(outCols.map(col): _*)
    val cur = history.where(col(validToCol).isNull).withColumn("_h", lit(1))
    val snap = snapshot.select(
      (keyCols ++ attrCols).map(c => col(c).as(s"_s_$c")) :+ lit(1).as("_s"): _*)
    val joinCond = keyCols.map(k => col(k) <=> col(s"_s_$k")).reduce(_ && _)
    val inHist = col("_h").isNotNull
    val inSnap = col("_s").isNotNull
    val attrsEqual = attrCols.map(c => col(c) <=> col(s"_s_$c")).reduce(_ && _)
    def ver(key: Seq[Column], attrs: Seq[Column], from: Column, to: Column) =
      struct((key ++ attrs :+ from :+ to).zip(outCols)
        .map { case (c, n) => c.as(n) }: _*)
    val curVer = ver(keyCols.map(col), attrCols.map(col),
      col(validFromCol), lit(null).cast("long"))
    val curClosed = ver(keyCols.map(col), attrCols.map(col),
      col(validFromCol), lit(asOf))
    val snapVer = ver(keyCols.map(c => col(s"_s_$c")),
      attrCols.map(c => col(s"_s_$c")), lit(asOf), lit(null).cast("long"))
    val emitted =
      when(inHist && !inSnap, if (closeMissing) array(curClosed) else array(curVer))
        .when(!inHist && inSnap, array(snapVer))
        .when(attrsEqual, array(curVer))
        .otherwise(array(curClosed, snapVer))
    cur.join(snap, joinCond, "full_outer")
      .select(explode(emitted).as("_v"))
      .select(outCols.map(c => col(s"_v.$c").as(c)): _*)
      .unionAll(closed)
  }

  /** Attach the scalar checks as `observe` metrics riding the frame's
    * own execution — zero extra jobs or scans. On a STREAM the metrics
    * surface per micro-batch in `StreamingQueryProgress.observedMetrics
    * (name)` (continuous data-quality monitoring); on a batch frame
    * they reach `QueryExecutionListener` after any action. Uniqueness
    * checks need their own grouped pass and stay in [[expect]].
    */
  def observed(df: DataFrame, name: String, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "observed: no checks given")
    val aggs = checks.map(ch => ch.violations.cast("long").as(ch.name))
    df.observe(name, aggs.head, aggs.tail: _*)
  }

  /** Distribution-drift monitor: per-group chi-square statistic of a
    * `current` snapshot's binned distribution against a `base`
    * snapshot's — the day-over-day alarm a corpus pipeline runs on its
    * quality-score / length / language histograms before shipping a
    * new crawl into training (PSI needs ln, which is not bit-stable
    * across engines; Pearson's chi-square carries the same signal on
    * exact arithmetic).
    *
    * Both inputs arrive pre-binned (`groupCols`, `binCol` — bucket
    * with [[graft.operators.Analytics.histogram]]'s cents/ticks
    * discipline upstream). Counts are add-one smoothed over the union
    * bin set (so a bin present on only one side contributes finitely),
    * and each bin's term is computed WITHOUT floats by clearing
    * denominators:
    *
    * {{{ (o'·A' − a'·B')² · scale  div  (a'·B'·A')   summed per group }}}
    *
    * where a'/o' are smoothed base/current bin counts and A'/B' the
    * smoothed totals — bigint/decimal multiply and one truncating
    * divide per bin, so the per-group SUM is an exact integer and the
    * statistic is cross-engine bit-exact (a float chi-square would sum
    * per-bin doubles in shuffle order). Precision bound: the squared
    * term times `scale` must fit DECIMAL(38) — fine through ~10^10-row
    * snapshot×total products at the default scale=10^6.
    *
    * Scale shape: two (group, bin) hash-aggregates (map-side partials),
    * a full-outer bin join inside each group key, broadcast per-group
    * totals, one final group aggregate. Output: group cols, `n_bins,
    * chi2_scaled, chi2` (chi2 = chi2_scaled/scale as one IEEE
    * division; compare against the chi-square critical value for
    * n_bins−1 degrees of freedom).
    */
  def chiSquareDrift(
      base: DataFrame,
      current: DataFrame,
      groupCols: Seq[String],
      binCol: Column,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"chiSquareDrift: scale must be > 0, got $scale")
    def binned(df: DataFrame, cnt: String) = df
      .groupBy((groupCols.map(col) :+ binCol.as("_bin")): _*)
      .agg(count(lit(1)).as(cnt))
    val a = binned(base, "_a")
    val b = binned(current, "_b")
    val joined = a.join(b, groupCols :+ "_bin", "full_outer")
      .select((groupCols.map(col) :+ col("_bin") :+
        (coalesce(col("_a"), lit(0L)) + 1).as("_a1") :+
        (coalesce(col("_b"), lit(0L)) + 1).as("_o1")): _*)
    val totals = joined.groupBy(groupCols.map(col): _*)
      .agg(sum(col("_a1")).as("_A"), sum(col("_o1")).as("_B"),
        count(lit(1)).as("n_bins"))
    joined.join(broadcast(totals), groupCols)
      .select((groupCols.map(col) :+ col("n_bins") :+
        (col("_o1") * col("_A") - col("_a1") * col("_B"))
          .cast("decimal(19,0)").as("_d") :+
        (col("_a1") * col("_B") * col("_A")).cast("decimal(19,0)").as("_den")): _*)
      .select((groupCols.map(col) :+ col("n_bins") :+
        expr(s"CAST(_d * _d * $scale AS DECIMAL(38,0)) div _den").as("_t")): _*)
      .groupBy((groupCols.map(col) :+ col("n_bins")): _*)
      .agg(sum(col("_t")).as("chi2_scaled"))
      .select((groupCols.map(col) :+ col("n_bins") :+ col("chi2_scaled") :+
        (col("chi2_scaled").cast("double") / lit(scale).cast("double")).as("chi2")): _*)
  }

  /** Population Stability Index — the model-monitoring companion to
    * [[chiSquareDrift]] (χ² answers "is the shift statistically
    * real"; PSI's Σ(p−q)·ln(p/q) is the magnitude score the industry
    * thresholds at 0.1/0.25): reference-vs-current bin shares with
    * Laplace +1 smoothing on the UNION bin spine, so a bin present on
    * only one side contributes finitely instead of ln(0).
    *
    * Per-bin terms are rounded to 6dp DECIMAL before the sum (the
    * [[Analytics.mutualInfo]] discipline — an unordered double sum
    * would be shuffle-order-dependent); the smoothed shares make each
    * term one fixed chain of IEEE ops over exact bigints. Two |bins|-
    * sized hash-aggs, one full-outer on the bin key, 1-row broadcast
    * totals. Output: (n_bins, n_ref, n_cur, psi).
    */
  def psi(ref: DataFrame, cur: DataFrame, binCol: Column): DataFrame = {
    def binned(df: DataFrame, cnt: String) = df.where(binCol.isNotNull)
      .groupBy(binCol.as("_bin")).agg(count(lit(1)).as(cnt))
    val joined = binned(ref, "_r").join(binned(cur, "_c"), Seq("_bin"), "full_outer")
      .select(col("_bin"),
        (coalesce(col("_r"), lit(0L)) + 1).as("_r1"),
        (coalesce(col("_c"), lit(0L)) + 1).as("_c1"),
        coalesce(col("_r"), lit(0L)).as("_r0"),
        coalesce(col("_c"), lit(0L)).as("_c0"))
    val totals = joined.agg(sum(col("_r1")).as("_R"), sum(col("_c1")).as("_C"),
      sum(col("_r0")).as("n_ref"), sum(col("_c0")).as("n_cur"),
      count(lit(1)).as("n_bins"))
    val p = col("_r1").cast("double") / col("_R").cast("double")
    val q = col("_c1").cast("double") / col("_C").cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("n_bins"), col("n_ref"), col("n_cur"),
        round((p - q) * log(p / q), 6).cast("decimal(18,6)").as("_t"))
      .groupBy(col("n_bins"), col("n_ref"), col("n_cur"))
      .agg(sum(col("_t")).cast("double").as("psi"))
  }

  /** Jensen-Shannon divergence between two corpora's token
    * distributions — the symmetric, bounded (≤ ln 2) corpus-similarity
    * score a data-mixing pipeline reads before blending sources ([[psi]]
    * answers "did MY distribution drift"; JS answers "how far apart are
    * these two corpora"). JS = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2
    * over the UNION vocabulary; a token seen on only one side
    * contributes its finite ½·p·ln 2 term — no smoothing needed, m > 0
    * wherever either side observed the token.
    *
    * Same discipline as [[psi]]: per-token terms are one fixed IEEE
    * chain over exact bigint counts, rounded to 6dp DECIMAL before the
    * order-proof sum. Two |vocab|-sized hash-aggs, one full-outer on
    * the token key, 1-row broadcast totals. Inputs are one-column
    * token frames (explode upstream). Output:
    * (n_tokens, n_a, n_b, js).
    */
  def jsDivergence(a: DataFrame, b: DataFrame, tokenCol: Column): DataFrame = {
    def counted(df: DataFrame, cnt: String) = df.where(tokenCol.isNotNull)
      .groupBy(tokenCol.as("_tok")).agg(count(lit(1)).as(cnt))
    // persisted: the vocab frame feeds both the totals row and the term
    // sum — without it each corpus is scanned and tokenized twice
    val joined = CacheRegistry.persist(
      counted(a, "_ca").join(counted(b, "_cb"), Seq("_tok"), "full_outer")
        .select(col("_tok"),
          coalesce(col("_ca"), lit(0L)).as("_ca"),
          coalesce(col("_cb"), lit(0L)).as("_cb")))
    val totals = joined.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      count(lit(1)).as("n_tokens"))
    val p = col("_ca").cast("double") / col("n_a").cast("double")
    val q = col("_cb").cast("double") / col("n_b").cast("double")
    val term =
      when(col("_ca") > 0L, p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0d)) * 0.5 +
      when(col("_cb") > 0L, q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0d)) * 0.5
    joined.crossJoin(broadcast(totals))
      .select(col("n_tokens"), col("n_a"), col("n_b"),
        round(term, 6).cast("decimal(18,6)").as("_t"))
      .groupBy(col("n_tokens"), col("n_a"), col("n_b"))
      .agg(sum(col("_t")).cast("double").as("js"))
  }

  /** l-diversity audit — [[kAnonymity]]'s stronger sibling: a class
    * can be large yet still leak if everyone in it shares the same
    * SENSITIVE value (k-anonymous, zero-diverse). Per QI class, the
    * distinct sensitive-value count; the summary counts classes below
    * `l` and the rows they expose. Same bounded class-frame shape as
    * kAnonymity plus one count_distinct. Output: (n_rows, n_classes,
    * n_violating_classes, rows_at_risk, min_diversity).
    */
  def lDiversity(df: DataFrame, quasiIds: Seq[Column], sensitiveCol: Column,
      l: Long): DataFrame = {
    require(quasiIds.nonEmpty, "lDiversity: need at least one quasi-identifier")
    require(l >= 2, s"lDiversity: l must be >= 2, got $l")
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("_n"), count_distinct(sensitiveCol).as("_div"))
      .agg(sum(col("_n")).as("n_rows"), count(lit(1)).as("n_classes"),
        sum(when(col("_div") < l, 1L).otherwise(0L)).as("n_violating_classes"),
        sum(when(col("_div") < l, col("_n")).otherwise(0L)).as("rows_at_risk"),
        min(col("_div")).as("min_diversity"))
  }

  /** t-closeness audit — the third rung of the release-gate ladder
    * ([[kAnonymity]] → [[lDiversity]] → this): a class can be large
    * AND diverse yet still leak if its sensitive-value DISTRIBUTION
    * diverges from the table's (e.g. a class that is 90% one diagnosis
    * in a table that is 10%). Per QI class, the Earth Mover's Distance
    * between the class and global distributions over the ORDERED
    * sensitive domain v_1 < … < v_m:
    *
    * {{{ EMD(c) = (1/(m−1)) · Σ_i |Σ_{j≤i} (p_cj − q_j)| }}}
    *
    * computed EXACTLY over the common denominator n_c·N — the running
    * numerator cum_i = Σ_{j≤i} (p_cj·N − q_j·n_c) is integer, widened
    * to decimal(38,0) so class·table row products can't wrap, and the
    * per-class t lands as one floor-div ppm. Classes missing a domain
    * value still accumulate its −q_j·n_c term (the class×domain grid
    * is completed by a join against the global value frame), which is
    * what makes a one-sided class score high.
    *
    * Shape: two map-combinable count aggregates (class×value and
    * global value frames, both bounded by domains, never rows), the
    * grid completion as a join on the bounded frames, one per-class
    * window over ≤ m rows, one summary row. Output:
    * (n_rows, n_classes, m, n_violating_classes, rows_at_risk,
    * max_t_ppm) with violation = t_ppm > tPpm.
    */
  def tCloseness(df: DataFrame, quasiIds: Seq[Column], sensitiveCol: Column,
      tPpm: Long): DataFrame = {
    require(quasiIds.nonEmpty, "tCloseness: need at least one quasi-identifier")
    require(tPpm >= 0, s"tCloseness: tPpm must be >= 0, got $tPpm")
    val base = df.select(quasiIds :+ sensitiveCol.as("_v"): _*)
      .where(col("_v").isNotNull)
    val qiNames = base.columns.dropRight(1).toSeq
    val qiCols = qiNames.map(col)
    val cv = base.groupBy(qiCols :+ col("_v"): _*).agg(count(lit(1)).as("_p"))
    val classes = cv.groupBy(qiCols: _*).agg(sum(col("_p")).as("_nc"))
    val gv = base.groupBy(col("_v")).agg(count(lit(1)).as("_q"))
    val tot = gv.agg(sum(col("_q")).as("_N"), count(lit(1)).as("_m"))
    // complete class×domain grid: every class meets every global value
    val grid = classes.crossJoin(broadcast(gv)).crossJoin(broadcast(tot))
      .join(cv, qiNames :+ "_v", "left")
      .select(qiCols ++ Seq(col("_v"), col("_nc"), col("_N"), col("_m"),
        (coalesce(col("_p"), lit(0L)).cast("decimal(38,0)") * col("_N") -
          col("_q").cast("decimal(38,0)") * col("_nc")).as("_num")): _*)
    val w = Window.partitionBy(qiCols: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perClass = grid.withColumn("_cum", sum(col("_num")).over(w))
      .groupBy(qiCols :+ col("_nc") :+ col("_N") :+ col("_m"): _*)
      .agg(sum(abs(col("_cum"))).as("_sabs"))
      .select(col("_nc"), col("_m"),
        // t_ppm = 10⁶·Σ|cum| div ((m−1)·n_c·N); m = 1 ⇒ distance 0
        when(col("_m") > 1L,
          (col("_sabs") * lit(1000000L)).cast("decimal(38,0)") /
            ((col("_m") - 1L).cast("decimal(38,0)") *
              col("_nc").cast("decimal(38,0)") * col("_N").cast("decimal(38,0)")))
          .otherwise(lit(0)).as("_tf"))
    // decimal / decimal keeps a fractional scale — floor it exactly
    val scored = perClass.select(col("_nc"), col("_m"),
      floor(col("_tf")).cast("long").as("t_ppm"))
    scored.agg(sum(col("_nc")).as("n_rows"), count(lit(1)).as("n_classes"),
      max(col("_m")).as("m"),
      sum(when(col("t_ppm") > tPpm, 1L).otherwise(0L)).as("n_violating_classes"),
      sum(when(col("t_ppm") > tPpm, col("_nc")).otherwise(0L)).as("rows_at_risk"),
      max(col("t_ppm")).as("max_t_ppm"))
  }

  /** k-anonymity audit — the release-gate for any dataset leaving the
    * training enclave: group by the quasi-identifier columns and
    * count equivalence classes smaller than `k`; every row in such a
    * class is re-identifiable by an attacker who knows its QI tuple.
    * One map-combinable aggregate to the class frame (bounded by
    * distinct QI combinations) + a count-of-counts summary row:
    * (n_rows, n_classes, n_violating_classes, rows_at_risk,
    * at_risk_ppm). NULL QI values form their own class, as an
    * attacker would treat them.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[Column], k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymity: need at least one quasi-identifier")
    require(k >= 2, s"kAnonymity: k must be >= 2, got $k")
    df.groupBy(quasiIds: _*).agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n")).as("n_rows"), count(lit(1)).as("n_classes"),
        sum(when(col("_n") < k, 1L).otherwise(0L)).as("n_violating_classes"),
        sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("rows_at_risk"))
      .select(col("n_rows"), col("n_classes"), col("n_violating_classes"),
        col("rows_at_risk"),
        expr("rows_at_risk * 1000000 div n_rows").as("at_risk_ppm"))
  }
}
