package graft

import graft.core.{CacheRegistry, Composite}
import graft.operators._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.sources.{ParquetTables, Source}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` where the
  * semantics are ANSI-SQL-expressible (hash-based LSH blocking and the
  * ordered-stateful fold are checked rows-only).
  *
  * Cross-engine determinism rules used throughout:
  *  - money aggregates go through exact DECIMAL sums, cast back to
  *    double (no float accumulation-order drift);
  *  - timestamps are emitted as epoch microseconds (unix_micros /
  *    epoch_us) so timezone-naive DuckDB and UTC-session Spark hash
  *    identically;
  *  - every window/top-k order has a deterministic tiebreak column.
  */
object SparkEntry {

  /** Opens table `name` of the scale-factor directory `dir`
    * (`$dir/$name.parquet`) through the parquet schema catalog
    * ([[graft.sources.ParquetTables]]): the first open of a file in a JVM
    * infers its schema in one Spark job, and later opens of the same file
    * (same qualified path, length and modification time, same inference
    * settings) run none. On top of the catalog's read it normalizes
    * `events.ts` and repartitions `documents`/`embeddings`, as below.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = ParquetTables.open(s, s"$dir/$name.parquet")
    // events.ts has shipped under two physical parquet types across
    // testdata generations: INT64 TIMESTAMP(NANOS) (reads as a raw long
    // under spark.sql.legacy.parquet.nanosAsLong=true) and
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ).
    // Branch on the dtype Spark inferred (the catalog keeps the inferred
    // schema) and normalize both to a µs-precision UTC TimestampType —
    // the session TZ is pinned to UTC, so the NTZ→TZ cast preserves the
    // exact epoch micros DuckDB sees when it reads the same naive-µs
    // column. Queries downstream always see the same column type
    // regardless of which generation is on disk.
    if (name == "events") df.schema("ts").dataType match {
      case LongType         => // nanos-as-long: µs-aligned, division lossless
        df.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df // already TimestampType
    }
    // documents/embeddings ship as single-row-group files, so the scan
    // is one task no matter the cluster size — while the operators over
    // them (shingling, hashing, pairwise cosine) are compute-bound. A
    // round-robin repartition costs one tiny shuffle (data is small by
    // construction whenever scan parallelism is this low) and lets the
    // heavy expressions use every core. No code skips it at real scale,
    // where the scan already yields many splits (see SCALE.md).
    else if (name == "documents" || name == "embeddings")
      // hash-repartition on the dense unique id instead of round-robin:
      // the same even spread over defaultParallelism partitions, but it
      // skips round-robin's sort-before-repartition (a local sort of the
      // full text/vector payload on the single scan task — pure overhead
      // here since every downstream result is partitioning-independent)
      df.repartition(s.sparkContext.defaultParallelism,
        col(if (name == "documents") "doc_id" else "vec_id"))
    // MEASURED AND REJECTED (r16): repartitioning the single-row-group
    // fact tables (lineitem/orders/events) the same way regressed the
    // ~100 scan-and-aggregate queries by 2-3x (the round-robin exchange
    // + its sort-before-repartition on 600k-row frames costs more than
    // the parallelism it buys), while the intended winners (decimal-
    // heavy map phases) did not improve — their first aggregation
    // exchange already distributes the reduce work, and the map-side
    // single-threading is cheaper than an extra full-width shuffle.
    else df
  }

  /** The bidirectional customer↔supplier trade graph (distinct
    * orders⋈lineitem pairs) — shared by the three graph queries; the
    * oracle SQL repeats the same CTE verbatim with string node ids.
    * Spark-side nodes are LOW-BIT-TAGGED LONGS (custkey·2 /
    * suppkey·2+1): every superstep shuffle then moves fixed 8-byte
    * keys instead of decorated strings; [[decodeTradeNode]] restores
    * the oracle's 'c:'/'s:' labels in the final |V|-row projection.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("p"))
      .distinct()
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .unionAll(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** Tagged-long trade-graph node → the oracle's 'c:<id>'/'s:<id>'. */
  private def decodeTradeNode(c: Column): Column =
    when(c % 2L === 0L, concat(lit("c:"), shiftright(c, 1)))
      .otherwise(concat(lit("s:"), shiftright(c, 1)))

  /** The NATION_7 supplier nodes — the trusted seed set for
    * q_trustrank / q_hop_distance (same tagged-long encoding as
    * [[tradeEdges]]).
    */
  private def nation7Seeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .where(col("n_name") === "NATION_7")
      .select((col("s_suppkey") * 2L + 1L).as("seed"))

  /** The ANN recall gate: `ann(q, e)`'s top-5 for the first 10
    * embeddings against their exact brute-force top-5 — `n_brute`, and
    * `recall_ok` when at least `minRecall` of those pairs are found. The
    * brute set feeds both readout legs, so it is checkpointed and the
    * exact sweep runs once (no cross-subtree reuse otherwise).
    */
  private def annRecallGate(s: SparkSession, d: String, minRecall: Double)(
      ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = t(s, d, "embeddings")
    val q = e.where(col("vec_id") < 10)
    val key = Seq("query_id", "neighbor_id")
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select(key.map(col): _*).transform(CacheRegistry.checkpoint(_))
    val found = ann(q, e).select(key.map(col): _*)
    brute.agg(count(lit(1)).as("n_brute"))
      .crossJoin(brute.join(found, key, "left_semi").agg(count(lit(1)).as("_hit")))
      .select(
        col("n_brute"),
        (col("_hit") >= col("n_brute").cast("double") * minRecall).as("recall_ok"))
  }

  /** Exact decimal sum rendered as double — accumulation-order-proof. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Epoch microseconds; the cast lifts parquet TIMESTAMP_NTZ to the
    * session-TZ (UTC) timestamp unix_micros requires — value-preserving.
    */
  private def usec(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Deterministic MESSY synthetic url from (doc_id, source) — the web
    * twin of attachSyntheticWav's closed-form construction: scheme and
    * host casing, a www. prefix, the http default port, tracking
    * params, unsorted query and a fragment all toggle on doc_id
    * residues, and every variant canonicalizes to
    * `http://<source>.example.com/d/<doc_id mod 97>?a=1&b=2` — which is
    * exactly what the q_url_norm / q_url_dedup oracles emit in SQL
    * without ever parsing anything.
    */
  private def messyUrl: Column = concat(
    when(col("doc_id") % 5 === 0, lit("HTTP")).otherwise(lit("http")),
    lit("://"),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".example.com"),
    when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit("")),
    lit("/d/"), (col("doc_id") % 97).cast("string"),
    when(col("doc_id") % 3 === 0, lit("?utm_source=feed&b=2&a=1"))
      .otherwise(lit("?b=2&a=1")),
    when(col("doc_id") % 3 === 0, lit("#sec")).otherwise(lit("")))

  // ---------------------------------------------------------------- //
  // DuckDB oracle fragments (documents text is pure-ASCII word soup)  //
  // ---------------------------------------------------------------- //

  /** Holt-Winters recursive-CTE oracle, 9 state columns (l, b,
    * s0..s6), built programmatically so the repeated new-level
    * expression is spelled ONCE — the IEEE shapes mirror
    * [[Analytics.holtWinters]] term for term (α=0.5, β=0.25, γ=0.5).
    */
  private def holtWintersOracle: String = {
    val sPos = "CASE e.p " +
      (0 until 7).map(i => s"WHEN $i THEN r.s$i").mkString(" ") + " END"
    val ln = s"0.5 * (e.x - $sPos) + 0.5 * (r.l + r.b)"
    val sUpdates = (0 until 7).map(i =>
      s"CASE WHEN e.p = $i THEN 0.5 * (e.x - ($ln)) + 0.5 * r.s$i ELSE r.s$i END").mkString(",\n    ")
    val sOut = "CASE p " +
      (0 until 7).map(i => s"WHEN $i THEN s$i").mkString(" ") + " END"
    s"""WITH RECURSIVE daily AS (SELECT event_type,
       |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
       |  sum(CAST(round(value * 100) AS BIGINT)) AS cents
       |  FROM events GROUP BY 1, 2),
       |e AS (SELECT CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
       |    WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4
       |    ELSE 5 END AS k, day, CAST(cents AS DOUBLE) AS x,
       |  CAST(day % 7 AS INTEGER) AS p,
       |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |r AS (
       |  SELECT k, day, rn, p, x AS l, CAST(0.0 AS DOUBLE) AS b,
       |    ${(0 until 7).map(i => s"CAST(0.0 AS DOUBLE) AS s$i").mkString(", ")}
       |  FROM e WHERE rn = 1
       |  UNION ALL
       |  SELECT e.k, e.day, e.rn, e.p,
       |    $ln AS l,
       |    0.25 * (($ln) - r.l) + 0.75 * r.b AS b,
       |    $sUpdates
       |  FROM e JOIN r ON e.k = r.k AND e.rn = r.rn + 1)
       |SELECT k AS tcode, day, l AS level, b AS trend, $sOut AS seasonal
       |FROM r""".stripMargin
  }

  /** The q_hurst ln-ln slope constants, embedded in BOTH engines so
    * the abscissas are literal identical doubles (no cross-libm ln).
    * Must mirror Analytics.hurstExponent's slope arithmetic exactly.
    */
  private val hurstUs = Seq(8, 16, 32, 64).map(m => math.log(m.toDouble))
  private val huSum = hurstUs.sum
  private val huDen = 4.0 * hurstUs.map(u => u * u).sum - huSum * huSum

  /** words(text): lowercase, split on non-word runs, drop empties. */
  private val W =
    """list_filter(regexp_split_to_array(lower(text), '\W+'), w -> len(w) > 0)"""

  private val NormalizedText =
    """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** Mirrors Similarity.randomProject coordinate-for-coordinate: the
    * same md5-derived ±1 sign rows inlined as literals, the same
    * ascending ordered-reduce dot, one division by sqrt(outDim).
    */
  private def jlOracle(inDim: Int, outDim: Int): String = {
    val signs = graft.operators.Similarity.jlSigns(inDim, outDim, "graft")
    (0 until outDim).map { j =>
      val g = signs(j).map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
      s"""SELECT vec_id, CAST($j AS INTEGER) AS j,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $inDim),
         |    i -> embedding[i]::DOUBLE * (list_value($g)[i]))), (a, x) -> a + x)
         |    / sqrt(CAST($outDim AS DOUBLE)) AS proj
         |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Mirrors Graph.kCore over the q_cooccur edge set with `rounds`
    * UNROLLED peels (peeling is idempotent past its fixpoint, so any
    * rounds >= the SF's convergence depth — 3 at sf0.01 for k=2 —
    * yields the true core; the operator early-exits at the fixpoint).
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: un-materialized CTEs inline, and
    // each peel references its predecessor ~4 times — 5 rounds would
    // expand to 4^5 scans of lineitem (observed as a DuckDB
    // too-many-open-files blowup)
    val base =
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e0 AS MATERIALIZED (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |       ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s""",
         |k$r AS MATERIALIZED (SELECT n FROM
         |  (SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
         |  GROUP BY n HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT n FROM k$r) AND v IN (SELECT n FROM k$r))""".stripMargin
    }.mkString
    base + peels +
      s"""
         |SELECT node, count(*) AS degree FROM
         |  (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY node""".stripMargin
  }

  /** q_hits oracle: `rounds` unrolled a-then-h HITS steps over the
    * directed trade graph. Integer sums, one max-rescale per half
    * round (`//` floor division == Spark `div` truncation on the
    * all-positive scores), so every score matches exactly.
    */
  private def hitsOracle(rounds: Int, scale: Long = 1000000L): String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT s AS node, CAST(1000000 AS BIGINT) AS h FROM e)"""
        .stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |ar$r AS (SELECT e.d, CAST(sum(h.h) AS BIGINT) AS raw
         |  FROM e JOIN h${r - 1} h ON e.s = h.node GROUP BY e.d),
         |a$r AS MATERIALIZED (SELECT d AS node,
         |  (raw * $scale) // (SELECT max(raw) FROM ar$r) AS a FROM ar$r),
         |hr$r AS (SELECT e.s, CAST(sum(a.a) AS BIGINT) AS raw
         |  FROM e JOIN a$r a ON e.d = a.node GROUP BY e.s),
         |h$r AS MATERIALIZED (SELECT s AS node,
         |  (raw * $scale) // (SELECT max(raw) FROM hr$r) AS h FROM hr$r)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT COALESCE(h$rounds.node, a$rounds.node) AS node,
         |  COALESCE(h$rounds.h, 0) AS hub, COALESCE(a$rounds.a, 0) AS authority
         |FROM h$rounds FULL OUTER JOIN a$rounds ON h$rounds.node = a$rounds.node"""
        .stripMargin
  }

  /** q_lpa oracle: the q_kcore edge universe, then `rounds` unrolled
    * synchronous label-propagation steps. Neighbor-label counts are
    * integers and the tie-break is min(label), so every step is
    * engine-exact; MATERIALIZED keeps DuckDB from inlining each
    * round's predecessor multiple times.
    */
  private def lpaOracle(rounds: Int): String = {
    val base =
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |p AS MATERIALIZED (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |       ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |c$r AS (SELECT e.u AS node, l.lbl AS lbl, count(*) AS c
         |  FROM e JOIN l${r - 1} l ON e.v = l.node GROUP BY 1, 2),
         |m$r AS (SELECT node, lbl, c, max(c) OVER (PARTITION BY node) AS mx FROM c$r),
         |l$r AS MATERIALIZED (
         |  SELECT node, min(lbl) AS lbl FROM m$r WHERE c = mx GROUP BY node)""".stripMargin
    }.mkString
    base + steps + s"\nSELECT node, lbl AS community FROM l$rounds"
  }

  /** q_sssp oracle: the q_kcore edge universe made directed with the
    * same synthetic (u+v)%97+1 weight, then `rounds` unrolled
    * Bellman-Ford relaxations from the %50 source set. All integers;
    * min-aggregation is order-free, so the horizon-pinned distances
    * match exactly.
    */
  private def ssspOracle(rounds: Int): String = {
    val base =
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |p AS MATERIALIZED (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |       ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT u, v, (u + v) % 97 + 1 AS w FROM p
        |  UNION ALL SELECT v, u, (u + v) % 97 + 1 FROM p),
        |d0 AS MATERIALIZED (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
        |  FROM e WHERE u % 50 = 0)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         |r$r AS (SELECT e.v AS node, min(d.dist + e.w) AS dist
         |  FROM e JOIN d${r - 1} d ON e.u = d.node GROUP BY 1),
         |d$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM
         |  (SELECT * FROM d${r - 1} UNION ALL SELECT * FROM r$r) GROUP BY node)""".stripMargin
    }.mkString
    base + steps + s"\nSELECT node, dist FROM d$rounds"
  }

  /** q_betweenness oracle: the q_harmonic trade graph, `maxHops`
    * unrolled BFS levels carrying exact shortest-path counts (SUM of
    * the FRONTIER's counts into unvisited neighbours = Brandes forward
    * counting; the LEFT-JOIN-IS-NULL leg is the visited anti-join),
    * then the pair-sampled accumulation: each s<t seed pair pays
    * (10⁶·σ_sv·σ_tv) // σ_st into every middle node with
    * d(s,v)+d(v,t) = d(s,t). Counts ride HUGEINT (Spark mirrors in
    * decimal(38,0)); numerators are non-negative so // and div agree.
    */
  private def betweennessOracle(maxHops: Int): String = {
    val base =
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, p AS dst FROM pairs
        |  UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |verts AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
        |seeds AS MATERIALIZED (SELECT node FROM verts
        |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8),
        |b0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist,
        |  CAST(1 AS HUGEINT) AS cnt FROM seeds),
        |v0 AS MATERIALIZED (SELECT seed, node FROM b0)""".stripMargin
    val steps = (1 to maxHops).map { r =>
      s""",
         |c$r AS (SELECT f.seed, e.dst AS node, SUM(f.cnt) AS cnt
         |  FROM e JOIN b${r - 1} f ON e.src = f.node GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT c.seed, c.node, $r AS dist, c.cnt
         |  FROM c$r c LEFT JOIN v${r - 1} v
         |    ON v.seed = c.seed AND v.node = c.node
         |  WHERE v.node IS NULL),
         |v$r AS MATERIALIZED (SELECT seed, node FROM v${r - 1}
         |  UNION ALL SELECT seed, node FROM b$r)""".stripMargin
    }.mkString
    val bfsUnion = (0 to maxHops).map(r => s"SELECT * FROM b$r")
      .mkString(" UNION ALL ")
    base + steps +
      s""",
         |bfs AS MATERIALIZED ($bfsUnion),
         |st AS (SELECT b.seed AS s, b.node AS t, b.dist AS d_st,
         |    b.cnt AS c_st
         |  FROM bfs b JOIN seeds sd ON b.node = sd.node
         |  WHERE b.seed < b.node),
         |ct AS (SELECT a.node AS v,
         |    (CAST(1000000 AS HUGEINT) * a.cnt * b.cnt) // st.c_st AS term
         |  FROM st JOIN bfs a ON a.seed = st.s
         |  JOIN bfs b ON b.seed = st.t AND b.node = a.node
         |  WHERE a.dist + b.dist = st.d_st
         |    AND a.node != st.s AND a.node != st.t),
         |h AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(term) AS BIGINT) AS between_ppm
         |  FROM ct GROUP BY v),
         |topk AS (SELECT * FROM h ORDER BY between_ppm DESC, node LIMIT 50)
         |SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
         |  ELSE 's:' || (node // 2) END AS node, n_pairs, between_ppm
         |FROM topk""".stripMargin
  }

  /** q_kcenter oracle: `k` unrolled Gonzalez rounds. Exact integer
    * milli-unit squared distances (BIGINT list_reduce), LEAST-folded
    * running min-distance, argmax by (md DESC, id) — float-free, so
    * every pick is the same total-order readout the Spark operator
    * makes; the first center is the md5-smallest id.
    */
  private def kcenterOracle(k: Int): String = {
    def dist2(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, 64),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)""".stripMargin
    val base =
      s"""WITH fx AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS id,
         |    list_transform(embedding,
         |      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings WHERE len(embedding) = 64 AND vec_id IS NOT NULL),
         |c1 AS MATERIALIZED (SELECT id, v FROM fx
         |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1),
         |d1 AS MATERIALIZED (SELECT f.id, f.v,
         |    ${dist2("f.v", "c.v")} AS md
         |  FROM fx f CROSS JOIN c1 c WHERE f.id != c.id)""".stripMargin
    val steps = (2 to k).map { r =>
      s""",
         |c$r AS MATERIALIZED (SELECT id, v, md FROM d${r - 1}
         |  ORDER BY md DESC, id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT d.id, d.v,
         |    LEAST(d.md, ${dist2("d.v", "c.v")}) AS md
         |  FROM d${r - 1} d CROSS JOIN c$r c WHERE d.id != c.id)""".stripMargin
    }.mkString
    val out = (Seq("SELECT 1 AS step, id AS vec_id, CAST(0 AS BIGINT) AS d2_pick FROM c1") ++
      (2 to k).map(r => s"SELECT $r, id, md FROM c$r")).mkString("\nUNION ALL ")
    base + steps + "\n" + out
  }

  /** q_mmr oracle: `m` unrolled MMR rounds. Query = md5-smallest
    * vector; relevance = −(exact milli-unit d² to it); round 1 argmax
    * rel, later rounds argmax lamPpm·rel + (10⁶−lamPpm)·min-d², picked
    * ids excluded — float-free total orders throughout, mirroring
    * [[graft.operators.TrainingData.mmrRerank]] readout-for-readout.
    */
  private def mmrOracle(m: Int, lamPpm: Long): String = {
    def dist2(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, 64),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)""".stripMargin
    val base =
      s"""WITH fx0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS id,
         |    list_transform(embedding,
         |      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings WHERE len(embedding) = 64 AND vec_id IS NOT NULL),
         |qv AS MATERIALIZED (SELECT id, v FROM fx0
         |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1),
         |cand AS MATERIALIZED (SELECT f.id, f.v,
         |    -${dist2("f.v", "q.v")} AS rel
         |  FROM fx0 f CROSS JOIN qv q WHERE f.id != q.id),
         |c1 AS MATERIALIZED (SELECT id, v, rel FROM cand
         |  ORDER BY rel DESC, id LIMIT 1),
         |d1 AS MATERIALIZED (SELECT f.id, f.v, f.rel,
         |    ${dist2("f.v", "c.v")} AS md
         |  FROM cand f CROSS JOIN c1 c WHERE f.id != c.id)""".stripMargin
    val steps = (2 to m).map { r =>
      s""",
         |c$r AS MATERIALIZED (SELECT id, v, rel, md FROM d${r - 1}
         |  ORDER BY ($lamPpm * rel + ${1000000L - lamPpm} * md) DESC, id
         |  LIMIT 1),
         |d$r AS MATERIALIZED (SELECT d.id, d.v, d.rel,
         |    LEAST(d.md, ${dist2("d.v", "c.v")}) AS md
         |  FROM d${r - 1} d CROSS JOIN c$r c WHERE d.id != c.id)""".stripMargin
    }.mkString
    val out = (Seq("SELECT 1 AS step, id AS vec_id, rel, " +
      "CAST(0 AS BIGINT) AS min_d2 FROM c1") ++
      (2 to m).map(r => s"SELECT $r, id, rel, md FROM c$r"))
      .mkString("\nUNION ALL ")
    base + steps + "\n" + out
  }

  /** q_corr_matrix oracle, generated so the 6 pair blocks carry
    * EXACTLY the Spark-side arithmetic shapes (bit-exact parity needs
    * identical IEEE op order, not just the same formula). Metrics are
    * the same cent-long fixed point the Spark side uses; DuckDB's
    * integer SUM accumulates in HUGEINT, so every sum is the same
    * exact integer Spark's long/decimal accumulators produce, and the
    * VARCHAR→DOUBLE hop makes the conversion correctly rounded on
    * both engines.
    */
  private def corrMatrixSql: String = {
    val ms = Seq("qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    def viaStr(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    val sums = ms.map { case (nm, _) => s"SUM($nm) AS s_$nm" } ++
      (for { i <- ms.indices; j <- i until ms.size }
        yield s"SUM(${ms(i)._1}*${ms(j)._1}) AS p_${i}_$j")
    val dbls = ms.map { case (nm, _) => s"${viaStr(s"s_$nm")} AS sd_$nm" } ++
      (for { i <- ms.indices; j <- i until ms.size }
        yield s"${viaStr(s"p_${i}_$j")} AS pd_${i}_$j")
    val blocks = for { i <- ms.indices; j <- (i + 1) until ms.size } yield {
      val (nx, ny) = (ms(i)._1, ms(j)._1)
      val num = s"nd*pd_${i}_$j - sd_$nx*sd_$ny"
      val vx = s"nd*pd_${i}_$i - sd_$nx*sd_$nx"
      val vy = s"nd*pd_${j}_$j - sd_$ny*sd_$ny"
      s"""SELECT rf, n, '$nx' AS col_x, '$ny' AS col_y,
         |  CASE WHEN $vx <= 0 OR $vy <= 0 THEN NULL
         |       ELSE ($num) / (sqrt($vx) * sqrt($vy)) END AS corr
         |FROM d""".stripMargin
    }
    def cents(x: String) = s"CAST(CAST($x AS DECIMAL(18,2))*100 AS BIGINT)"
    s"""WITH b AS (SELECT l_returnflag AS rf,
       |  ${cents("l_quantity")} AS qty,
       |  ${cents("l_extendedprice")} AS price,
       |  ${cents("l_discount")} AS disc,
       |  ${cents("l_tax")} AS tax
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
       |a AS (SELECT rf, COUNT(*) AS n, ${sums.mkString(", ")} FROM b GROUP BY rf),
       |d AS (SELECT rf, n, CAST(n AS DOUBLE) AS nd, ${dbls.mkString(", ")} FROM a)
       |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Exact df-capped n-gram Jaccard pairs (the q_dedup_ngram pipeline)
    * at a given threshold — shared by the dedup-recall oracles.
    */
  private def ngramPairsSql(threshold: Double): String =
    s"""WITH docs AS (
       |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
       |    THEN [array_to_string($W, ' ')]
       |    ELSE list_transform(generate_series(1, len($W) - 1),
       |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
       |  FROM documents),
       |postings AS (SELECT id, unnest(sh) AS g FROM docs),
       |rare AS (SELECT g FROM postings GROUP BY g
       |  HAVING count(*) <= 100 AND count(*) >= 2),
       |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
       |exact_pairs AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
       |  len(list_intersect(da.sh, db.sh))::DOUBLE /
       |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
       |  FROM cand JOIN docs da ON cand.id_a = da.id
       |  JOIN docs db ON cand.id_b = db.id) WHERE j >= $threshold)""".stripMargin

  /** Brute-force top-5 cosine neighbors of queries vec_id < 10 (the
    * q_sim_brute result set) as a CTE — shared by the ANN-recall oracles.
    */
  private val BruteTop5Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
      |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
      |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
      |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
      |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(cv)),
      |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
      |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
      |brute AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC, neighbor_id)
      |    AS INTEGER) AS rank
      |  FROM s) WHERE rank <= 5)""".stripMargin

  // ---------------------------------------------------------------- //
  // Queries                                                           //
  // ---------------------------------------------------------------- //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- relational core ------------------------------------------- //
    "q_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))),

    "q_filter" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_quantity") >= 45)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          usec(col("l_shipdate")).as("ship_us"))),

    // Flagship parity with the reference's words-count example
    // (reference: test/examples/words_count_test.exs) — Flow-routed:
    // Source |> Transformer(explode words) |> groupBy count.
    "q_words_count" -> ((s, d) => {
      val pipeline = Composite(Seq(
        Source.parquet("docs", s"$d/documents.parquet"),
        Transformer("docs")(df =>
          df.select(explode(words(col("text"))).as("word"))
            .groupBy("word").agg(count(lit(1)).as("n")))))
      pipeline(EmptyFlow)("docs")
    }),

    // Mixer = bag union (reference: lib/mixer.ex) — Flow-routed.
    "q_mix" -> ((s, d) => {
      val ev = t(s, d, "events")
      val pipeline = Composite(Seq(
        Source.of("clicks", ev.where(col("event_type") === "click")),
        Source.of("purchases", ev.where(col("event_type") === "purchase")),
        Mixer(Seq("clicks", "purchases"), "mixed"),
        Transformer("mixed")(
          _.groupBy("event_type").agg(count(lit(1)).as("n")))))
      pipeline(EmptyFlow)("mixed")
    }),

    // Splitter predicate fan-out + re-mix (reference: lib/splitter.ex).
    "q_split" -> ((s, d) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val pipeline = Composite(Seq(
        Source.parquet("orders", s"$d/orders.parquet"),
        Splitter.predicates("orders", Seq("urgent" -> urgent, "rest" -> !urgent)),
        Transformer("urgent")(_.agg(count(lit(1)).as("n")).withColumn("branch", lit("urgent"))),
        Transformer("rest")(_.agg(count(lit(1)).as("n")).withColumn("branch", lit("rest"))),
        Mixer(Seq("urgent", "rest"), "out")))
      pipeline(EmptyFlow)("out")
    }),

    "q_topk" -> ((s, d) =>
      Relational.topKPerGroup(
        t(s, d, "orders"),
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        5)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rank"))),

    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    // Anti-join against URGENT orders only — every customer has SOME
    // order in the testdata, so the unrestricted form returns 0 rows
    // and the parity check would be vacuous.
    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(
          t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "q_bcast_join" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))),

    "q_join_multi" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))),

    "q_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        .intersect(o.where(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
    }),

    "q_except" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        .except(o.where(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
    }),

    "q_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))),

    "q_cube" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("bucket", col("user_id") % 4)
        .cube(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"))),

    // Exact interpolated percentiles (sort-based) per group.
    "q_percentile" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          count(lit(1)).as("n"))),

    // HLL sketch vs exact distinct in the same aggregate: the estimate
    // itself is engine-specific so it is NOT emitted; what the oracle
    // pins is `approx_ok` — the rsd=0.01 sketch must land within ±5 %
    // of the exact distinct (deterministic for a fixed dataset).
    "q_approx_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("_approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(
          col("event_type"), col("exact_users"), col("n"),
          (abs(col("_approx") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.05).as("approx_ok"))),

    // Audience overlap via KMV sketches: one bounded sketch per event
    // type, pairwise intersection estimates from the sketches alone
    // (HLL can't intersect; KMV can). At this SF every sketch is
    // below its cap, so the estimate is EXACT and approx_ok trivially
    // holds; at scale the same query degrades gracefully to ±5 %. The
    // estimator UDF runs on |types|² = tiny rows — never a hot path.
    "q_kmv_intersect" -> ((s, d) => {
      val k = 1024
      val e = t(s, d, "events")
        .select(col("event_type"), xxhash64(col("user_id")).as("_h"))
      val kmvAgg = udaf(graft.functions.TypedAggregators.kmv(k))
      val sk = e.groupBy(col("event_type")).agg(kmvAgg(col("_h")).as("_sk"))
      val est = udf((a: Seq[Long], b: Seq[Long]) =>
        graft.operators.Sketches.kmvIntersectEstimate(a.toArray, b.toArray, k))
      val pairs = sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          est(col("a._sk"), col("b._sk")).as("_est"))
      val du = t(s, d, "events").select(col("event_type"), col("user_id")).distinct()
      val exact = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type"), col("y.event_type"))
        .agg(count(lit(1)).as("exact_common"))
        .select(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"),
          col("exact_common"))
      pairs.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_common"),
          (abs(col("_est") - col("exact_common")) <=
            col("exact_common").cast("double") * 0.05).as("approx_ok"))
    }),

    // Hierarchical distinct via HLL sketch rollup: sketch once per
    // (type, day), hll_union_agg upward to type and grand total —
    // the raw table is scanned once for all three levels. Estimates
    // are engine-specific, so the oracle pins `approx_ok` (±5 % of
    // exact at every level) plus the exact counts themselves.
    "q_hll_rollup" -> ((s, d) => {
      val e = t(s, d, "events").select(
        col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      val est = graft.operators.Sketches.distinctRollup(
        e, Seq("event_type" -> col("event_type"), "day" -> col("day")),
        col("user_id"), lgK = 14)
      val exact = e.rollup(col("event_type"), col("day"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact,
          est("event_type") <=> exact("event_type") && est("day") <=> exact("day"))
        .select(est("event_type"), est("day"), col("depth"), col("exact_users"),
          (abs(col("estimate") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.05).as("approx_ok"))
    }),

    // RANGE-frame rolling window: per-user 1-hour trailing sum over
    // event time — peers at equal timestamps share the frame, so no
    // tiebreak is needed; the decimal sum keeps doubles order-proof.
    "q_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(usec(col("ts")))
        .rangeBetween(-3600000000L, Window.currentRow)
      t(s, d, "events").select(
        col("event_id"), col("user_id"), usec(col("ts")).as("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("sum_1h"))
    }),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        usec(col("o_orderdate")).as("order_us"),
        count(lit(1)).over(w).as("run_n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("run_spend"))
    }),

    // -- scalar function families (string/date passthrough) --------- //
    "q_string_funcs" -> ((s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        length(col("c_name")).as("len"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        reverse(col("c_name")).as("rev"))),

    "q_date_funcs" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dd"),
        usec(date_trunc("month", col("o_orderdate"))).as("month_us"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"))),

    // -- windows (reference: test/examples/window_test.exs) --------- //
    "q_tumble_count" -> ((s, d) =>
      Relational.tumblingCountWindow(
        t(s, d, "events"), Seq(col("event_id")), 500,
        Seq(
          count(lit(1)).as("n"), min(col("value")).as("min_v"),
          max(col("value")).as("max_v"), min(col("event_id")).as("first_id")))),

    "q_slide" -> ((s, d) =>
      Relational.slidingAvg(
        t(s, d, "events"), Seq(col("user_id")), Seq(col("ts"), col("event_id")),
        5, col("value"))
        .select(col("event_id"), col("user_id"), col("sliding_avg"))),

    "q_time_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .select(usec(col("window.start")).as("day_us"), col("n"), col("min_v"), col("max_v"))),

    // -- stream pairing / CEP --------------------------------------- //
    "q_zip" -> ((s, d) =>
      Relational.zipByIndex(
        t(s, d, "nation").select(col("n_nationkey"), col("n_name")), Seq(col("n_nationkey")),
        t(s, d, "region").select(col("r_regionkey"), col("r_name")), Seq(col("r_regionkey")))
        .select(col("n_name"), col("r_name"))),

    "q_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("click_value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(purchases, clicks, "user_id", "ts", "ts", Seq("click_value"))
        .select(col("event_id"), col("user_id"), usec(col("ts")).as("purchase_us"),
          col("click_value"))
    }),

    // Interval-overlap join: per-user 1h view windows x 30min click
    // windows — the interval-interval generalization of the binned
    // range join (one equi-shuffle on (bin, user), overlap charged to
    // its first bin, exact verify).
    "q_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id"),
          usec(col("ts")).as("lo"), (usec(col("ts")) + 3600000000L).as("hi"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          usec(col("ts")).as("lo2"), (usec(col("ts")) + 1800000000L).as("hi2"))
      Relational.intervalOverlapJoin(
        views, "lo", "hi", clicks, "lo2", "hi2",
        binWidth = 3600000000L, equiKeys = Seq("user_id"))
        .select(col("v_id"), col("c_id"))
    }),

    // Forward as-of: for each signup, the user's EARLIEST subsequent
    // purchase (time-to-convert joins; ties inclusive).
    "q_asof_fwd" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("purchase_value"))
      val signups = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(signups, purchases, "user_id", "ts", "ts",
        Seq("purchase_value"), direction = "forward")
        .select(col("event_id"), col("user_id"), usec(col("ts")).as("signup_us"),
          col("purchase_value"))
    }),

    "q_session" -> ((s, d) =>
      Relational.sessionize(
        t(s, d, "events"), col("user_id"), col("ts"), 3600, Seq(col("event_id")))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n"),
          min(usec(col("ts"))).as("start_us"),
          max(usec(col("ts"))).as("end_us"))),

    // The parcels state machine (reference: test/examples/parcels_test.exs)
    "q_sla" -> ((s, d) => {
      val orders = t(s, d, "orders")
        .withColumn("to_ship", (col("o_orderkey") % 5 + 1).cast("int"))
      val shipments = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      Relational.shipmentSla(
        orders, shipments, "o_orderkey", "o_orderdate", "to_ship", "l_shipdate", 7)
        .select(col("o_orderkey"), col("n_shipped"), col("status"))
    }),

    // Batch twin of the streaming interval join: purchases attributed
    // to same-user clicks within 30 minutes, via the binned range join.
    "q_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val halfHourUs = 1800000000L
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), usec(col("ts")).as("c_us"))
        .withColumn("lo", col("c_us")).withColumn("hi", col("c_us") + halfHourUs)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), usec(col("ts")).as("b_us"))
      Relational.binnedRangeJoin(
        clicks, "lo", "hi", purchases, "b_us", halfHourUs, equiKeys = Seq("user_id"))
        .select(col("event_id"), col("user_id").as("b_user"), col("b_us"), col("c_us"))
    }),

    "q_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))),

    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")),

    // -- dedup ------------------------------------------------------ //
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(
        t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    "q_dedup_fp" -> ((s, d) =>
      Dedup.byFingerprint(t(s, d, "documents"), "doc_id", "text")),

    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.2, maxDocFreq = 100)),

    // Near-dup clustering: components of the exact-jaccard pair graph,
    // every doc labeled with its cluster representative (min doc_id).
    "q_dedup_cc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", shingleSize = 2, threshold = 0.2, maxDocFreq = 100)
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("component"))
    }),

    // Fuzzy (edit-distance <= 1) self-join over supplier names — the
    // entity-resolution primitive; consecutive TPC-H supplier names
    // differ in single digits, so the match set is non-vacuous.
    "q_fuzzy_join" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      Dedup.fuzzyJoin(sup, sup, "s_name", "s_name", maxEdit = 1)
        .where(col("left_val") < col("right_val"))
    }),

    // One-call survivor selection: drop near-duplicates, keep each
    // cluster's min-id representative.
    "q_dedup_survivors" -> ((s, d) =>
      Dedup.dropNearDuplicates(
        t(s, d, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.2, maxDocFreq = 100)
        .select(col("doc_id"), col("lang"), col("source"))),

    // MinHash+LSH recall gate: banding may only LOSE pairs relative to
    // the exact (df-capped) n-gram Jaccard set. The catch probability
    // under 16 bands × 4 rows is 1-(1-j⁴)¹⁶ — 0.645 at j=0.50, →1 as
    // j grows — so a zero-miss pin would be fragile for any borderline
    // pair a testdata refresh might plant; the gate instead requires
    // ≥90 % recall of the exact set (measured: 100 % on the bundled
    // data at both SFs; hashes are deterministic).
    // (MinHash can legitimately find MORE: pairs whose shared shingles
    // are all above the df cap are invisible to the inverted index but
    // still collide in banding; found pairs carry an exact-Jaccard
    // verify, so they are true positives, not errors.)
    "q_dedup_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val key = Seq("id_a", "id_b")
      // exact feeds both readout legs — checkpoint the tiny id-pair set
      // so the df-capped inverted-index pipeline runs once, not twice
      // (no ReusedExchange fires across the readout subtrees)
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5, 100)
        .select(col("id_a"), col("id_b")).transform(CacheRegistry.checkpoint(_))
      val found = Dedup.minhashPairs(docs, "doc_id", "text", 2, 64, 16, 0.5)
        .select(col("id_a"), col("id_b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact.join(found, key, "left_semi").agg(count(lit(1)).as("_hit")))
        .select(
          col("n_exact"),
          (col("_hit") >= col("n_exact").cast("double") * 0.9).as("recall_ok"))
    }),

    // SimHash recall gate vs the exact j>=0.5 pair set: hamming<=3 on a
    // 64-bit signature is a *different* (cosine-flavored) similarity, so
    // full agreement is not expected — the oracle pins recall >= 0.5
    // (measured 0.60 at sf0.01, 0.77 at sf0.1; deterministic hashes).
    "q_dedup_simhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val key = Seq("id_a", "id_b")
      // same shared-leg checkpoint discipline as q_dedup_minhash
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5, 100)
        .select(col("id_a"), col("id_b")).transform(CacheRegistry.checkpoint(_))
      val found = Dedup.simhashPairs(docs, "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact.join(found, key, "left_semi").agg(count(lit(1)).as("_hit")))
        .select(
          col("n_exact"),
          (col("_hit") >= col("n_exact").cast("double") * 0.5).as("recall_ok"))
    }),

    // Embedding LSH pair gate vs exact all-pairs cosine (cheap at test
    // scale; the operator itself never does all-pairs): found pairs
    // must be a SUBSET of the exact set (they carry an exact-cosine
    // verify) and catch >= 30 % of it (measured ~0.49/0.50; recall is
    // tunable via tables/bits, the subset property is structural).
    "q_embed_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val key = Seq("id_a", "id_b")
      import graft.functions.VectorFunctions.cosine
      val exact = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("v_b")),
          col("id_a") < col("id_b"))
        .where(cosine(col("v_a"), col("v_b")) >= 0.35)
        .select(col("id_a"), col("id_b")).transform(CacheRegistry.checkpoint(_))
      // knownCount from the RAW parquet read — a metadata-only count
      // (no scan, no shuffle); counting `e` would replan t()'s
      // hash repartition and run a real job at query-build time
      // (ADVICE round 2 / round-4 review).
      // exact feeds 3 readout legs and found 2 — both tiny id-pair sets
      // checkpoint so the n²/2 sweep and the LSH pipeline run once
      val found = Dedup.embeddingCosinePairs(e, "vec_id", "embedding", 0.35, tables = 4,
        knownCount = Some(ParquetTables.open(s, s"$d/embeddings.parquet").count()))
        .select(col("id_a"), col("id_b")).transform(CacheRegistry.checkpoint(_))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.join(exact, key, "left_anti").agg(count(lit(1)).as("_extra")))
        .crossJoin(found.join(exact, key, "left_semi").agg(count(lit(1)).as("_hit")))
        .select(
          col("n_exact"),
          (col("_extra") === 0L).as("subset_ok"),
          (col("_hit") >= col("n_exact").cast("double") * 0.3).as("recall_ok"))
    }),

    // Semantic dedup gate (SemDeDup): cluster-bounded candidate pairs
    // carry an exact-cosine verify, so the dropped set must be a SUBSET
    // of the exact dropped set (ids with a smaller-id exact partner at
    // cosine >= 0.35) and catch >= 50% of it; n_total and the exact
    // dropped count are pinned by the oracle. (Clustering only loses
    // pairs straddling a cell boundary; the embeddings plant 10 label
    // clusters, so the sampled k-means recovers most of them — measured
    // recall ~0.9 at both SFs.)
    "q_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      import graft.functions.VectorFunctions.cosine
      // exact feeds 3 readout legs and found 2 — the tiny id sets are
      // eagerly checkpointed so the n²/2 brute-force cosine sweep and
      // the clustered pair generator run ONCE, not once per leg (no
      // ReusedExchange fires across these subtrees)
      val exact = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("v_b")),
          col("id_a") < col("id_b"))
        .where(cosine(col("v_a"), col("v_b")) >= 0.35)
        .select(col("id_b")).distinct().transform(CacheRegistry.checkpoint(_))
      val found = Dedup.semanticPairs(e, "vec_id", "embedding", 0.35, nlist = 16)
        .select(col("id_b")).distinct().transform(CacheRegistry.checkpoint(_))
      e.agg(count(lit(1)).as("n_total"))
        .crossJoin(exact.agg(count(lit(1)).as("n_dropped_exact")))
        .crossJoin(found.join(exact, Seq("id_b"), "left_anti").agg(count(lit(1)).as("_extra")))
        .crossJoin(found.join(exact, Seq("id_b"), "left_semi").agg(count(lit(1)).as("_hit")))
        .select(
          col("n_total"), col("n_dropped_exact"),
          (col("_extra") === 0L).as("subset_ok"),
          (col("_hit") >= col("n_dropped_exact").cast("double") * 0.5).as("recall_ok"))
    }),

    // SemDeDup COMPOSED over the corpus-scale ANN kNN graph — the
    // 100-TB default path (ivfKnnGraph candidates -> exact-cosine
    // verify -> min-id survivor), recall-gated against the same
    // exact pair-drop set as q_semdedup: dropped is a subset of the
    // exact drops by construction, and the kNN candidates must
    // recover >= 50% of them (measured ~0.9 at both SFs).
    "q_semdedup_knn" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      import graft.functions.VectorFunctions.cosine
      val exact = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("v_b")),
          col("id_a") < col("id_b"))
        .where(cosine(col("v_a"), col("v_b")) >= 0.35)
        .select(col("id_b")).distinct().transform(CacheRegistry.checkpoint(_))
      val kept = Dedup.semanticDedupViaKnnGraph(
        e, "vec_id", "embedding", 0.35, k = 8, nlist = 16, nprobe = 4)
      // exact feeds 3 readout legs and found 2 — checkpoint the tiny id
      // sets so the n²/2 sweep and the kNN-graph dedup run once each
      val found = e.select(col("vec_id").as("id_b"))
        .join(kept.select(col("vec_id").as("id_b")), Seq("id_b"), "left_anti")
        .transform(CacheRegistry.checkpoint(_))
      e.agg(count(lit(1)).as("n_total"))
        .crossJoin(exact.agg(count(lit(1)).as("n_dropped_exact")))
        .crossJoin(found.join(exact, Seq("id_b"), "left_anti").agg(count(lit(1)).as("_extra")))
        .crossJoin(found.join(exact, Seq("id_b"), "left_semi").agg(count(lit(1)).as("_hit")))
        .select(
          col("n_total"), col("n_dropped_exact"),
          (col("_extra") === 0L).as("subset_ok"),
          (col("_hit") >= col("n_dropped_exact").cast("double") * 0.5).as("recall_ok"))
    }),

    // -- similarity search ------------------------------------------ //
    "q_sim_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", 5)
    }),

    // ANN recall gates (annRecallGate): approximate top-5 vs the
    // oracle-checked brute force top-5 (q_sim_brute), overall recall
    // pinned by the oracle. LSH: bits=3/tables=8 measured 0.80/0.86.
    "q_sim_lsh" -> ((s, d) => annRecallGate(s, d, 0.6)((q, e) =>
      Similarity.lshTopK(q, e, "vec_id", "embedding", 5, bits = 3, tables = 8))),

    // nprobe 10/16: the 0.6 recall pin must hold at BOTH gate scales
    // (the quantizer trains on a deterministic layout-INVARIANT
    // content-hash sample since round 13, so the recall level is a
    // property of the data + seed alone; 6/16 sat at 0.68/0.58
    // historically — 10/16 keeps honest margin)
    "q_sim_ivf" -> ((s, d) => annRecallGate(s, d, 0.6)((q, e) =>
      Similarity.ivfTopK(q, e, "vec_id", "embedding", 5, nlist = 16, nprobe = 10))),

    // IVF-PQ recall gate (FAISS IndexIVFPQ shape): coarse probe of
    // 8/16 cells, 16×64 PQ ADC shortlist of 25, exact-cosine rerank to
    // top-5 — recall >= 0.5 pinned vs the brute-force top-5 (both
    // pruning axes lose recall; nprobe and rerank are the dials).
    "q_sim_ivfpq" -> ((s, d) => annRecallGate(s, d, 0.5)((q, e) =>
      Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 8, m = 16, kSub = 64, rerank = 25))),

    // PQ recall gate: 16×64 product quantization, ADC shortlist of 25,
    // exact-cosine rerank to top-5 (the production PQ search shape) vs
    // the oracle-checked brute-force top-5 — recall >= 0.6 pinned
    // (measured 0.98 at sf0.01, 0.82 at sf0.1).
    "q_sim_pq" -> ((s, d) => annRecallGate(s, d, 0.6)((q, e) =>
      Similarity.pqTopK(q, e, "vec_id", "embedding", 5, m = 16, kSub = 64, rerank = 25))),

    // -- text analysis ---------------------------------------------- //
    "q_text_stats" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        size(words(col("text"))).as("n_words"),
        subwordCountApprox(col("text")).as("n_subwords"),
        langId(col("text")).as("lang_id"),
        qualityScore(col("text")).as("quality"),
        rollingHash(col("text")).as("rhash"))),

    "q_lang_hist" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(langId(col("text")).as("lang_id"))
        .agg(count(lit(1)).as("n"))),

    // -- web / url canonicalization ---------------------------------- //
    // The q_decode_* pattern applied to urls: messy synthetic urls are
    // built row-locally from (doc_id, source) with deterministic noise
    // (scheme/host case, www., default port, tracking params, unsorted
    // query, fragment), the REAL codegen parser canonicalizes them,
    // and the oracle recomputes the EXPECTED canonical form in closed
    // form from the same columns — it never runs a parser, so a
    // normalization bug can't cancel out on both sides.
    "q_url_norm" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      docs.select(col("doc_id"),
        graft.functions.UrlFunctions.urlNormalize(messyUrl).as("url_norm"))
    }),

    // Host + registrable domain off one url, incl. the second-level
    // public-suffix branch (foo.co.uk keeps three labels).
    "q_url_domain" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val url = concat(lit("https://"),
        when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 4 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit(":443/x"))
      docs.select(col("doc_id"),
        graft.functions.UrlFunctions.urlHost(url).as("host"),
        graft.functions.UrlFunctions.urlDomain(url).as("domain"))
    }),

    // Html extraction: each doc wrapped in a full page (head, title,
    // style and script blocks, a comment, attributes, entities), the
    // REAL single-pass extractor recovers the visible text, and the
    // oracle emits the expected string arithmetically from (source,
    // text) — script/style/comment content must vanish, entities must
    // decode, tags must collapse to single spaces.
    "q_html_text" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(col("doc_id").isNotNull && col("source").isNotNull &&
          col("text").isNotNull)
      val html = concat(
        lit("<html lang=\"en\"><head><title>"), col("source"),
        lit("</title><style type=\"text/css\">p{color:red}</style>" +
          "<script>if(1<2){var a=\"</p>\";}</script></head>" +
          "<!-- hidden --><body><h1 class=\"t\">"),
        upper(col("source")),
        lit("</h1><p>x &amp; y &lt;z&gt;&nbsp;ok</p><p>"), col("text"),
        lit("</p><br/></body></html>"))
      docs.select(col("doc_id"),
        graft.functions.UrlFunctions.htmlText(html).as("body"))
    }),

    // Link extraction: every doc becomes a page with one absolute
    // anchor (always), one relative anchor (even doc_ids), and a
    // decoy anchor inside a script block that must NOT be extracted;
    // the oracle emits the expected (idx, href) rows arithmetically.
    "q_html_links" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val page = concat(
        lit("<html><body><a href=\"http://"), col("source"),
        lit(".example.com/d/"), (col("doc_id") % 50).cast("string"),
        lit("\">x</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a class='m' href='/rel/"),
            (col("doc_id") % 7).cast("string"), lit("'>y</a>")))
          .otherwise(lit("")),
        lit("<script>var s='<a href=\"http://no.example.com/\">';</script>" +
          "<p>text</p></body></html>"))
      docs.select(col("doc_id"),
        posexplode(graft.functions.UrlFunctions.htmlLinks(page)))
        .withColumnRenamed("pos", "link_idx")
        .withColumnRenamed("col", "href")
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
          col("href"))
    }),

    // The raw-crawl WEB GRAPH in one plan: pages → <a> hrefs (with an
    // entity-encoded &amp; between query params) → url_normalize →
    // indegree per canonical target. The oracle never parses anything:
    // the expected canonical target and its indegree are group-by
    // arithmetic over the generating columns.
    "q_web_graph" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val page = concat(
        lit("<html><body><p>see</p><a href=\"HTTP://WWW."), col("source"),
        lit(".example.com:80/d/"), (col("doc_id") % 50).cast("string"),
        lit("?utm_x=1&amp;a=1\">link</a></body></html>"))
      docs.select(
        explode(graft.functions.UrlFunctions.htmlLinks(page)).as("href"))
        .select(graft.functions.UrlFunctions.urlNormalize(col("href"))
          .as("target"))
        .groupBy(col("target"))
        .agg(count(lit(1)).as("indegree"))
    }),

    // The realistic web graph: pages emit one ABSOLUTE anchor and one
    // RELATIVE anchor (plain / ./ / ../ / root-absolute, cycled by
    // doc_id), every href is resolved against the page's own uri
    // (url_resolve, RFC 3986 §5) before url_normalize — without the
    // resolve step the relative majority would reject to NULL and the
    // graph would lose those edges. The base path carries a per-doc
    // file name (page<n>.html) that resolution must strip, so the
    // oracle — pure CASE arithmetic over (source, doc_id) — catches a
    // resolver that grafts onto the file instead of its directory.
    "q_web_graph_rel" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val base = concat(lit("http://"), col("source"),
        lit(".example.com/a/b/page"), (col("doc_id") % 5).cast("string"),
        lit(".html"))
      val relHref = when(col("doc_id") % 4 === 0,
          concat(lit("d/"), (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("./e/"), (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("../f/"), (col("doc_id") % 7).cast("string")))
        .otherwise(concat(lit("/g/"), (col("doc_id") % 7).cast("string")))
      val page = concat(
        lit("<html><body><a href=\"http://"), col("source"),
        lit(".example.com/abs/"), (col("doc_id") % 50).cast("string"),
        lit("\">x</a><a class='r' href='"), relHref,
        lit("'>y</a><script>var s='<a href=\"/no\">';</script>" +
          "</body></html>"))
      docs.select(base.as("base"),
          explode(graft.functions.UrlFunctions.htmlLinks(page)).as("href"))
        .select(graft.functions.UrlFunctions.urlNormalize(
          graft.functions.UrlFunctions.urlResolve(col("base"), col("href")))
          .as("target"))
        .groupBy(col("target"))
        .agg(count(lit(1)).as("indegree"))
    }),

    // WARC record splitting: each doc becomes a synthetic ISO-28500
    // blob of 1 + doc_id mod 3 response records, the REAL parser
    // splits it back, and the oracle recomputes record indices,
    // lengths, uris and payload hashes from the generating columns —
    // the length-prefixed payload may contain anything (incl. header
    // look-alikes) without confusing the split.
    "q_warc" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(col("doc_id").isNotNull && col("source").isNotNull &&
          col("text").isNotNull)
      val uri = concat(lit("http://"), col("source"),
        lit(".example.com/d/"), col("doc_id").cast("string"))
      val withWarc = graft.sources.Warc.attachSyntheticWarc(docs,
        col("doc_id") % 3 + 1, uri, col("text"))
      graft.sources.Warc.warcRecords(withWarc, "doc_id", "warc")
        .select(col("doc_id"), col("record_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
    }),

    // The full raw-crawl → documents ingestion path in one plan, with
    // payloads shaped like a REAL crawl's: each WARC record carries a
    // complete HTTP response message — status line (404 on a residue),
    // a truthful Content-Type header, the body gzip/deflate
    // content-coded (cycled) and chunked-framed on even docs, the html
    // itself iso-8859-1 (bytes invalid as UTF-8). The pipeline is
    // binary WARC → record split → http envelope split → dechunk +
    // content-decode → charset chain → target-uri canonicalization →
    // html visible-text extraction; the oracle emits the whole
    // expected row arithmetically.
    "q_warc_pipeline" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(col("doc_id").isNotNull && col("source").isNotNull &&
          col("text").isNotNull)
      val html = concat(lit("<html><body><p>"), col("text"),
        lit(" résumé</p><script>var a=1;</script></body></html>"))
      val status = when(col("doc_id") % 7 === 0, lit(404)).otherwise(lit(200))
      val coding = when(col("doc_id") % 3 === 0, lit("gzip"))
        .when(col("doc_id") % 3 === 1, lit("deflate"))
        .otherwise(lit("identity"))
      val withHttp = graft.sources.Warc.attachSyntheticHttp(docs,
        status, lit("text/html; charset=iso-8859-1"), coding,
        col("doc_id") % 2 === 0, encode(html, "ISO-8859-1"))
      val withWarc = graft.sources.Warc.attachSyntheticWarcBin(withHttp,
        col("doc_id") % 2 + 1, messyUrl, col("http"))
      val recs = graft.sources.Warc.warcRecords(withWarc, "doc_id", "warc")
      val bodyBin = httpBody(col("payload"))
      recs.select(col("doc_id"), col("record_idx"),
        httpStatus(col("payload")).as("status"),
        urlNormalize(col("target_uri")).as("url_norm"),
        htmlText(decodeText(bodyBin,
          coalesce(charsetParam(httpHeader(col("payload"), lit("content-type"))),
            sniffCharset(bodyBin), lit("utf-8")))).as("body"))
    }),

    // The HTTP response envelope on its own: status extraction, header
    // access (present/absent by residue), chunked dechunking, all
    // three content codings, and the charset chain falling from a
    // truthful header to a truthful <meta> when the header is absent.
    // The oracle is pure CASE arithmetic over doc_id.
    "q_http_response" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val html = concat(
        lit("<html><head><meta charset=\"iso-8859-1\"></head><body><p>"),
        col("text"), lit(" café</p></body></html>"))
      val status = when(col("doc_id") % 3 === 0, lit(200))
        .when(col("doc_id") % 3 === 1, lit(301)).otherwise(lit(404))
      val ct = when(col("doc_id") % 2 === 0,
        lit("text/html; charset=iso-8859-1")).otherwise(lit(null).cast("string"))
      val coding = when(col("doc_id") % 3 === 0, lit("gzip"))
        .when(col("doc_id") % 3 === 1, lit("identity"))
        .otherwise(lit("deflate"))
      val withHttp = graft.sources.Warc.attachSyntheticHttp(docs,
        status, ct, coding, col("doc_id") % 5 < 2, encode(html, "ISO-8859-1"))
      val p = col("http")
      val bodyBin = httpBody(p)
      withHttp.select(col("doc_id"),
        httpStatus(p).as("status"),
        httpHeader(p, lit("Content-Type")).as("content_type"),
        httpHeader(p, lit("transfer-encoding")).as("transfer_encoding"),
        htmlText(decodeText(bodyBin,
          coalesce(charsetParam(httpHeader(p, lit("content-type"))),
            sniffCharset(bodyBin), lit("utf-8")))).as("body"))
    }),

    // Charset-aware payload decode: every page is REALLY iso-8859-1
    // (with non-ASCII chars whose bytes are invalid UTF-8), even rows
    // carry a truthful Content-Type header while their <meta> LIES
    // (claims utf-8), odd rows have no header and a truthful meta. The
    // documented precedence chain — charset_param, then sniff_charset,
    // then utf-8 — must pick iso-8859-1 for every row; a wrong
    // precedence or a blind utf-8 decode turns é into U+FFFD and
    // hash-mismatches. The oracle emits charset and round-tripped body
    // in closed form.
    "q_charset" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val metaCs = when(col("doc_id") % 2 === 0, lit("utf-8"))
        .otherwise(lit("iso-8859-1"))
      val html = concat(lit("<html><head><meta charset=\""), metaCs,
        lit("\"></head><body><p>"), col("text"),
        lit(" café naïve</p></body></html>"))
      val payload = encode(html, "ISO-8859-1")
      val ct = when(col("doc_id") % 2 === 0,
          lit("text/html; charset=iso-8859-1"))
        .otherwise(lit(null).cast("string"))
      val charset = coalesce(
        graft.functions.UrlFunctions.charsetParam(ct),
        graft.functions.UrlFunctions.sniffCharset(payload),
        lit("utf-8"))
      docs.select(col("doc_id"), charset.as("charset"),
        graft.functions.UrlFunctions.htmlText(
          graft.functions.UrlFunctions.decodeText(payload, charset))
          .as("body"))
    }),

    // Crawl politeness: a synthetic RFC 9309 robots.txt built
    // row-locally (wildcard + $-anchored allow inside a disallowed
    // tree + an agent-specific group), the REAL parser answers
    // may-fetch for (agent, path) pairs cycled by doc_id residues, and
    // the oracle recomputes every verdict as CASE arithmetic. The
    // specific group must REPLACE the * group (not merge), the
    // $-anchored allow must outrank the shorter disallow, and the
    // wildcard disallow must anchor at the path end.
    "q_robots" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id").isNotNull)
      val robotsTxt = concat(
        lit("# policy\nUser-agent: *\nDisallow: /private/\n" +
          "Allow: /private/pub"), (col("doc_id") % 5).cast("string"),
        lit("$\nDisallow: /*.tmp$\n\nUser-agent: graftbot\n" +
          "Disallow: /graft/\n"))
      val agent = when(col("doc_id") % 3 === 0, lit("GraftBot/1.0"))
        .otherwise(lit("randombot"))
      val path = when(col("doc_id") % 4 === 0,
          concat(lit("/private/pub"), (col("doc_id") % 5).cast("string")))
        .when(col("doc_id") % 4 === 1, lit("/private/x.tmp"))
        .when(col("doc_id") % 4 === 2, lit("/graft/data"))
        .otherwise(lit("/ok/page"))
      docs.select(col("doc_id"), agent.as("agent"), path.as("path"),
        graft.functions.UrlFunctions.robotsAllowed(robotsTxt, agent, path)
          .as("allowed"))
    }),

    // Crawl discovery: robots.txt declares 1-2 Sitemap urls, the
    // sitemap xml lists 1-3 <loc> targets (with an entity-encoded
    // &amp; and padding whitespace the parser must strip), and the
    // oracle recomputes the declared-map count and every loc in closed
    // form from doc_id residues.
    "q_sitemap" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id").isNotNull)
      val robotsTxt = concat(
        lit("User-agent: *\nDisallow: /tmp/\nSitemap: http://s"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com/sitemap.xml\n"),
        when(col("doc_id") % 2 === 0,
          lit("Sitemap: http://mirror.example.com/sm.xml\n"))
          .otherwise(lit("")))
      def entry(k: Int) = concat(
        lit("<url><loc> http://d"), (col("doc_id") % 7).cast("string"),
        lit(s".example.com/p/$k?a=1&amp;b=2 </loc>" +
          "<lastmod>2026-01-01</lastmod></url>"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        entry(0),
        when(col("doc_id") % 3 >= 1, entry(1)).otherwise(lit("")),
        when(col("doc_id") % 3 >= 2, entry(2)).otherwise(lit("")),
        lit("</urlset>"))
      docs.select(col("doc_id"),
          size(graft.functions.UrlFunctions.robotsSitemaps(robotsTxt))
            .as("n_maps"),
          posexplode(graft.functions.UrlFunctions.sitemapLocs(xml)))
        .select(col("doc_id"), col("n_maps"),
          col("pos").cast("long").as("loc_idx"), col("col").as("loc"))
    }),

    // Real sitemaps ship gzipped and nested: a sitemap-INDEX (.xml.gz)
    // lists child sitemaps (.xml.gz) which list the urls. Both levels
    // are gzip-compressed row-locally, decoded with the gunzip kernel,
    // recursed index → urlset, and the leaf urls canonicalized — the
    // oracle recomputes child counts, the first child url and every
    // leaf in closed form from doc_id residues.
    "q_sitemap_gz" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val docs = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id").isNotNull)
      val k7 = (col("doc_id") % 7).cast("string")
      def sm(j: Int) = concat(
        lit("<sitemap><loc>http://d"), k7,
        lit(s".example.com/sm$j.xml.gz</loc></sitemap>"))
      val indexXml = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"), sm(0),
        when(col("doc_id") % 2 === 0, sm(1)).otherwise(lit("")),
        lit("</sitemapindex>"))
      def entry(k: Int) = concat(
        lit("<url><loc>http://d"), k7,
        lit(s".example.com/p/$k?b=2&amp;a=1</loc></url>"))
      val urlsetXml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"), entry(0),
        when(col("doc_id") % 3 >= 1, entry(1)).otherwise(lit("")),
        when(col("doc_id") % 3 >= 2, entry(2)).otherwise(lit("")),
        lit("</urlset>"))
      val staged = graft.sources.Warc.attachGzip(
        graft.sources.Warc.attachGzip(
          docs.withColumn("_ix", indexXml).withColumn("_us", urlsetXml),
          col("_ix"), "idx_gz"),
        col("_us"), "set_gz")
      val children = sitemapLocs(decodeText(gunzip(col("idx_gz")), lit("utf-8")))
      staged.select(col("doc_id"),
          size(children).as("n_children"),
          element_at(children, 1).as("child0"),
          posexplode(sitemapLocs(
            decodeText(gunzip(col("set_gz")), lit("utf-8")))))
        .select(col("doc_id"), col("n_children"), col("child0"),
          col("pos").cast("long").as("loc_idx"),
          urlNormalize(col("col")).as("url_norm"))
    }),

    // The crawl-frontier composition — "what do we fetch next": pages
    // emit absolute + relative anchors (the q_web_graph_rel
    // construction), every href resolves + canonicalizes, an RFC 9309
    // robots filter drops the disallowed tree (with a $-anchored
    // exemption), url-level dedup collapses to the first discoverer,
    // and a per-host politeness cap keeps at most 20 urls per host.
    // The oracle recomputes every edge, verdict, group and rank in
    // closed form.
    "q_frontier" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      val base = concat(lit("http://"), col("source"),
        lit(".example.com/a/b/page"), (col("doc_id") % 5).cast("string"),
        lit(".html"))
      val relHref = when(col("doc_id") % 4 === 0,
          concat(lit("d/"), (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("./e/"), (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("../f/"), (col("doc_id") % 7).cast("string")))
        .otherwise(concat(lit("/g/"), (col("doc_id") % 7).cast("string")))
      val page = concat(
        lit("<html><body><a href=\"http://"), col("source"),
        lit(".example.com/abs/"), (col("doc_id") % 50).cast("string"),
        lit("\">x</a><a class='r' href='"), relHref, lit("'>y</a></body></html>"))
      val robotsTxt = lit(
        "User-agent: *\nDisallow: /g/\nAllow: /g/3$\nDisallow: /*.tmp$\n")
      val edges = docs
        .select(col("doc_id"), base.as("base"),
          explode(htmlLinks(page)).as("href"))
        .select(col("doc_id"),
          urlNormalize(urlResolve(col("base"), col("href"))).as("target"))
      val allowed = edges.where(robotsAllowed(robotsTxt, lit("graftbot"),
        expr("parse_url(target, 'PATH')")))
      val deduped = allowed.groupBy(col("target"))
        .agg(min(col("doc_id")).as("discovered_by"),
          count(lit(1)).as("n_refs"))
        .withColumn("host", urlHost(col("target")))
      graft.operators.TrainingData.capPerGroup(deduped,
        Seq(col("host")), Seq(col("target")), 20)
        .select(col("host"), col("target"), col("discovered_by"),
          col("n_refs"), col("rank"))
    }),

    // Mixed-record-type WARC files, as real CommonCrawl rounds ship
    // them: request/revisit/metadata records interleaved with the
    // response by doc_id residues. The pipeline must parse EVERY
    // record (counts pin interleaving and positions) yet extract text
    // from responses only — a request record's payload is bytes that
    // would parse fine as text if the type check were missing. The
    // oracle recomputes record counts, the response's record index
    // and its decoded body arithmetically.
    "q_warc_mixed" -> ((s, d) => {
      import graft.functions.UrlFunctions._
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(col("doc_id").isNotNull && col("source").isNotNull &&
          col("text").isNotNull)
      val html = concat(lit("<html><body><p>"), col("text"),
        lit(" mixed</p></body></html>"))
      val withHttp = graft.sources.Warc.attachSyntheticHttp(docs,
        lit(200), lit("text/html; charset=utf-8"), lit("gzip"),
        col("doc_id") % 2 === 0, encode(html, "UTF-8"))
      val uri = concat(lit("http://"), col("source"),
        lit(".example.com/m/"), col("doc_id").cast("string"))
      val withWarc = graft.sources.Warc.attachSyntheticWarcMixed(withHttp,
        uri, col("http"),
        col("doc_id") % 2 === 0, col("doc_id") % 3 === 0,
        col("doc_id") % 5 === 0)
      val recs = graft.sources.Warc.warcRecords(withWarc, "doc_id", "warc")
        .withColumn("path", col("doc_id").cast("string"))
      graft.streaming.CrawlIngest.routeRecords(recs)
        .groupBy(col("path"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(when(col("route") === "non_response", 1L).otherwise(0L))
            .as("n_non_response"),
          sum(when(col("route") === "html", 1L).otherwise(0L)).as("n_html"),
          max(when(col("route") === "html", col("record_idx")))
            .as("response_idx"),
          max(when(col("route") === "html", col("body"))).as("body"))
        .select(col("path").cast("long").as("doc_id"), col("n_records"),
          col("n_non_response"), col("n_html"), col("response_idx"),
          col("body"))
    }),

    // MIME routing over a mixed crawl (the CrawlIngest router in
    // closed form): five-way Content-Type cycle (html / png / json /
    // br-coded html / plain-text), request records interleaved (%7),
    // and uncanonicalizable target uris (%11) — every record must land
    // on exactly ONE route with the right drop reason, the html leg's
    // body decoded through the charset chain, the text/plain leg's
    // body decoded VERBATIM (no tag stripping), and the image leg's
    // bytes passed through UNTOUCHED (md5-pinned). The oracle
    // recomputes route/reason/mime/body/md5 as pure CASE arithmetic.
    "q_mime_route" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(col("doc_id").isNotNull && col("source").isNotNull &&
          col("text").isNotNull)
      val html = concat(lit("<html><body><p>"), col("text"),
        lit(" résumé</p></body></html>"))
      val m5 = col("doc_id") % 5
      val ctype = when(m5 === 0, lit("text/html; charset=iso-8859-1"))
        .when(m5 === 1, lit("image/png"))
        .when(m5 === 2, lit("application/json"))
        .otherwise(lit("text/plain")) // %5==3 replaced by the br envelope
      val withHttp = graft.sources.Warc.attachSyntheticHttp(docs,
        lit(200), ctype,
        when(m5 === 0, lit("gzip")).otherwise(lit("identity")),
        m5 === 0 && col("doc_id") % 2 === 0,
        when(m5 === 0, encode(html, "ISO-8859-1"))
          .otherwise(encode(col("text"), "UTF-8")))
      // the brotli leg: a claimed-br body this engine cannot decode —
      // routing must REJECT it, never push the raw envelope downstream
      val brMsg = lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: br\r\nContent-Length: 4\r\n\r\nXXXX")
      val frame = withHttp.select(
        col("source").as("path"),
        col("doc_id").cast("long").as("record_idx"),
        when(col("doc_id") % 7 === 0, lit("request"))
          .otherwise(lit("response")).as("warc_type"),
        // digit-led scheme: RFC 3986 rejects it, so url_normalize
        // NULLs and the router emits the bad_url reason
        when(col("doc_id") % 11 === 5, lit("1http://bad/x"))
          .otherwise(concat(lit("http://"), col("source"),
            lit(".example.com/d/"), (col("doc_id") % 97).cast("string")))
          .as("target_uri"),
        when(m5 === 3, encode(brMsg, "ISO-8859-1"))
          .otherwise(col("http")).as("payload"))
      graft.streaming.CrawlIngest.routeRecords(frame)
        .select(col("record_idx").as("doc_id"), col("mime"), col("route"),
          col("reason"), col("body"), md5(col("image")).as("image_md5"))
    }),

    // The IMAGE arc end-to-end in one plan — the capstone the routing
    // and decode gates compose into: a REAL png per document (JDK
    // encoder), gzip-content-coded inside a truthful image/png HTTP
    // envelope, framed as a WARC response record; then record split →
    // envelope decode (binary-transparent: compressed image bytes,
    // not text) → MIME route to the image leg → magic-byte sniff →
    // raster decode. The oracle pins dims/format/exact pixel mean
    // from the generating columns; any stage corrupting a byte breaks
    // the lossless chain.
    "q_image_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("source").isNotNull &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withImg = Multimodal.attachSyntheticImage(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L, lit("png"), binCol = "img")
      val withHttp = graft.sources.Warc.attachSyntheticHttp(withImg,
        lit(200), lit("image/png"), lit("gzip"),
        col("doc_id") % 2 === 0, col("img"))
      val uri = concat(lit("http://"), col("source"),
        lit(".example.com/i/"), col("doc_id").cast("string"), lit(".png"))
      val withWarc = graft.sources.Warc.attachSyntheticWarcBin(
        withHttp.drop("img"), lit(1), uri, col("http"))
      val recs = graft.sources.Warc.warcRecords(withWarc, "doc_id", "warc")
        .withColumn("path", col("doc_id").cast("string"))
      val images = graft.streaming.CrawlIngest.routeRecords(recs)
        .where(col("route") === "image").select(col("path"), col("image"))
      Multimodal.decodeImageStats(images, "image")
        .select(col("path").cast("long").as("doc_id"), col("width"),
          col("height"), col("format"), col("px_mean"))
    }),

    // Url-level exact dedup (the CCNet/RefinedWeb leading pass): docs
    // sharing a canonical url collapse to the min doc_id; the messy
    // construction guarantees collisions (path is doc_id mod 97).
    "q_url_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .where(col("doc_id").isNotNull && col("source").isNotNull)
      docs.select(col("doc_id"),
        graft.functions.UrlFunctions.urlNormalize(messyUrl).as("url_norm"))
        .groupBy(col("url_norm"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
    }),

    // TF-IDF + BM25 term weights over the document corpus.
    "q_tfidf" -> ((s, d) =>
      Ranking.termScores(t(s, d, "documents"), "doc_id", "text")),

    // BM25 retrieval: top-20 documents for a 3-term query, scored as
    // the sum of per-term BM25 weights. The per-term weights are the
    // q_tfidf-pinned rounded doubles; summing goes through
    // DECIMAL(18,4) so the total is EXACT and order-independent (a
    // double sum could differ by an ulp per engine and flip the
    // ranking), then surfaces as double.
    "q_bm25_search" -> ((s, d) => {
      val scores = Ranking.termScores(t(s, d, "documents"), "doc_id", "text")
      scores.where(col("term").isin("spark", "window", "join"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("bm25").cast("decimal(18,4)")).cast("double").as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Per-document keyword extraction: top-5 terms by tf-idf, ranked
    // on the ROUNDED score (identical across engines — q_tfidf pins
    // the rounded values bit-exact) with the term as tiebreak; the
    // rank filter compiles to WindowGroupLimit partial+final top-k.
    // TextRank keywords: window-2 co-occurrence graph over the corpus
    // vocabulary (≥3-char words, canonical distinct pairs), ranked by
    // the SAME scaled-integer pagerank supersteps as q_pagerank —
    // graph-based salience beside q_keywords' TF-IDF. Top-30.
    "q_textrank" -> ((s, d) =>
      Ranking.textRank(t(s, d, "documents"), "text", iters = 3, k = 30)),

    "q_keywords" -> ((s, d) => {
      val scores = Ranking.termScores(t(s, d, "documents"), "doc_id", "text")
      TrainingData.capPerGroup(
        scores, Seq(col("doc_id")), Seq(col("tfidf").desc, col("term")), 5)
        .select(col("doc_id"), col("term"), col("tfidf"))
    }),

    // Bloom-pruned join, pinned to EXACT equality with the plain join
    // (no false negatives; false positives die in the join): the probe
    // side (lineitem) is filtered by the build side's key sketch
    // BEFORE its shuffle — 9 of 100 suppliers survive the acctbal
    // predicate, so ~91% of probe rows never leave the scan stage.
    "q_bloom_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier").where(col("s_acctbal") > 9000)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Relational.bloomPrunedJoin(li, sup, Seq("l_suppkey"), expectedItems = 100)
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
    }),

    // Gopher-rules quality filter: pure-scalar projection, every rule
    // recomputed by the oracle; thresholds chosen so the bundled docs
    // split on words_ok (~1/3 fail minWords=40) — non-vacuous keep.
    "q_quality_filter" -> ((s, d) =>
      TrainingData.qualityFilter(t(s, d, "documents"), "doc_id", "text",
        minWords = 40, maxWords = 1000)),

    // End-to-end curation pipeline in ONE plan: quality filter →
    // fingerprint dedup (smallest-id winner) → Hamilton apportionment
    // of a 100k-word budget across the surviving sources. The
    // composition showcase: every stage is the already-gated operator.
    "q_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // (r17 measured: checkpointing the (doc_id, n_words) keep set was
      // seconds-flat at identical job counts — unlike the gate legs,
      // both consumers of `kept` sit in ONE action, where the
      // broadcast of q is already reused across the subtrees.)
      val q = TrainingData.qualityFilter(docs, "doc_id", "text",
          minWords = 40, maxWords = 1000)
        .where(col("keep"))
        .select(col("id").as("doc_id"), col("n_words"))
      val kept = docs.join(q, Seq("doc_id"))
      val winners = Dedup.byFingerprint(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = kept.join(winners, Seq("doc_id"), "left_semi")
      TrainingData.apportion(survivors, col("source"), col("n_words"),
        100000L)
    }),

    // Token-budget corpus selection: the best 150k words of the corpus
    // in (stopword-quality DESC, doc_id) order — range-partitioned
    // prefix sums, never a single-partition running-sum window. The
    // oracle recomputes the running total with a plain window.
    // Bhattacharyya overlap of click-vs-view spend histograms on
    // shared 10-cent bins — the bounded symmetric drift complement.
    "q_bhattacharyya" -> ((s, d) =>
      Analytics.bhattacharyya(t(s, d, "events"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT) div 10"),
        "click", "view")),

    // Kish effective sample size of per-user spend weights per type:
    // what sampling-by-spend actually buys — exact milli/ppm floors.
    "q_kish" -> ((s, d) =>
      TrainingData.kishEffectiveSize(
        t(s, d, "events")
          .where(col("event_type").isNotNull && col("user_id").isNotNull &&
            col("value").isNotNull)
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("w")),
        col("event_type"), col("w"))
        .select(col("group").as("event_type"), col("n"),
          col("n_eff_milli"), col("deff_ppm"))),

    // ABC tiers of customers by lifetime order value: interval-start
    // class assignment, exact decimal boundary cross-products.
    "q_abc" -> ((s, d) =>
      TrainingData.abcClasses(t(s, d, "orders"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Hamilton apportionment of a 1M-token budget across sources by
    // total chars: exact floors + largest remainders, sum == budget.
    "q_apportion" -> ((s, d) =>
      TrainingData.apportion(t(s, d, "documents"), col("source"),
        col("n_chars"), 1000000L)),

    "q_budget_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        round(graft.functions.TextFunctions.stopwordRatio(col("text")), 4).as("quality"))
      TrainingData.budgetSelect(
        scored, Seq(col("quality").desc, col("doc_id")), col("n_tokens"), 150000L)
        .select(col("doc_id"), col("n_tokens"), col("quality"), col("cum_tokens"))
    }),

    // Misra-Gries heavy-hitters gate, run at real eviction pressure
    // (capacity 2 over 5 langs): the MG guarantee — every item with
    // frequency > n/(capacity+1) is PRESENT, undercounted by at most
    // n/(capacity+1) — holds under ANY partition merge order, so the
    // booleans are stable even though the sketch itself is
    // order-sensitive. The oracle pins the exact-heavy set and counts.
    "q_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val skItems = docs.select(col("lang")).as[String]
        .select(graft.functions.TypedAggregators.heavyHitters(2).toColumn)
        .toDF("sk")
        .select(explode(col("sk"))).toDF("lang", "sk_count")
      val exact = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
      exact.crossJoin(docs.agg(count(lit(1)).as("_t")))
        .where(col("n_exact") > col("_t") / 3.0)
        .join(skItems, Seq("lang"), "left")
        .select(
          col("lang"), col("n_exact"),
          col("sk_count").isNotNull.as("found_ok"),
          (coalesce(col("sk_count"), lit(-1L)) <= col("n_exact") &&
            coalesce(col("sk_count"), lit(-1L)) >= col("n_exact") - col("_t") / 3.0)
            .as("bound_ok"))
    }),

    // Count-Min point-frequency estimates, byte-exact: the md5-derived
    // bucket assignment is reproducible in DuckDB, and a CMS estimate
    // is BY DEFINITION the exact sum of the colliding keys' counts —
    // so the oracle recomputes every estimate from the raw table and
    // the match is exact, collisions included (w=8 over ~O(10²)
    // distinct keys forces real collisions, so the min-over-rows logic
    // is genuinely exercised, not vacuously equal to exact counts).
    "q_cms" -> ((s, dd) => {
      import s.implicits._
      val d = 3; val w = 8
      // NULL keys are pinned out on BOTH engines (the aggregator would
      // skip them but the oracle's bucket join silently drops them —
      // filtering here keeps the parity structural, not accidental);
      // persisted because the frame feeds two jobs (sketch, keys).
      val keysDf = CacheRegistry.persist(
        t(s, dd, "documents")
          .select(concat(col("lang"), lit(":"), col("source")).as("key"))
          .where(col("key").isNotNull))
      val sketch = keysDf.as[String]
        .select(graft.functions.TypedAggregators.countMin(d, w).toColumn)
        .head()
      // bounded driver state: d*w longs (24 here) — the whole point of
      // the sketch is that this never grows with the keyspace
      val skLit = typedLit(sketch.toSeq)
      val ests = (0 until d).map { i =>
        val b = (conv(substring(md5(concat(lit(s"cms$i:"), col("key"))), 1, 8), 16, 10)
          .cast("long") % w).cast("int")
        element_at(skLit, lit(i * w) + b + 1)
      }
      keysDf.distinct().select(col("key"), least(ests: _*).as("cms_est"))
    }),

    // PageRank over the bidirectional customer↔supplier trade graph —
    // scaled-integer arithmetic end to end, so three full iterations
    // compare BIT-EXACT against the oracle's chained CTEs: every step
    // is bigint add/multiply/truncating-divide, immune to shuffle
    // order and partition count on both engines.
    // checkpointIters=2: at 3 iterations one mid-loop checkpoint
    // (after iter 2) is enough lineage truncation — every checkpoint
    // is a full |V|-row materializing job, so fewer is faster.
    "q_pagerank" -> ((s, dd) =>
      Graph.pageRank(tradeEdges(s, dd), "src", "dst", iters = 3,
        checkpointIters = 2)
        .select(decodeTradeNode(col("node")).as("node"), col("score"))),

    // HITS over the DIRECTED customer→supplier trade graph (customers
    // are hubs, suppliers authorities): 2 rounds of scaled-integer
    // sum + max-rescale — bit-exact, oracle unrolls the same rounds.
    // Nodes travel as LOW-BIT-TAGGED LONGS (custkey·2 / suppkey·2+1)
    // through every superstep shuffle — fixed 8-byte keys instead of
    // the oracle's decorated strings — and decode to the oracle's
    // 'c:'/'s:' labels only in the final |V|-row projection.
    "q_hits" -> ((s, dd) => {
      val pairs = t(s, dd, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dd, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"))
      Graph.hits(pairs, col("src"), col("dst"), rounds = 2)
        .select(decodeTradeNode(col("node")).as("node"),
          col("hub"), col("authority"))
    }),

    // Grouped OLS trend fit (per-priority order-value drift over
    // time): the five partial sums are EXACT (bigint/decimal), and
    // slope/intercept/r2 evaluate in double from identical exact
    // inputs with identical operation shapes on both engines — so the
    // floating-point outputs hash-compare exactly.
    "q_trend_fit" -> ((s, dd) =>
      Analytics.groupedLinearFit(
        t(s, dd, "orders").select(
          col("o_orderpriority").as("prio"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("x"),
          col("o_totalprice").cast("decimal(18,2)").as("y")),
        Seq(col("prio")), col("x"), col("y"))),

    // Grouped pairwise Pearson matrix over the four lineitem metrics.
    // Metrics enter as exact CENT LONGS (decimal(18,2)·100 — the same
    // half-up rounding on both engines), so 13 of the 15 accumulators
    // are codegen'd 64-bit sums; only the price-involving products are
    // promoted to decimal(38,0) ("price" is the one metric whose
    // products could wrap 2^63 at cluster row counts). Pearson r is
    // scale-invariant, and the double closed form evaluates from
    // identical exact integer sums with identical op shapes on both
    // engines — bit-exact cross-engine.
    "q_corr_matrix" -> ((s, dd) => {
      def cents(c: String) =
        (col(c).cast("decimal(18,2)") * 100).cast("long")
      Analytics.groupedCorrMatrix(
        t(s, dd, "lineitem").select(
          col("l_returnflag").as("rf"),
          cents("l_quantity").as("qty"),
          cents("l_extendedprice").as("price"),
          cents("l_discount").as("disc"),
          cents("l_tax").as("tax")),
        Seq(col("rf")),
        Seq("qty" -> col("qty"), "price" -> col("price"),
          "disc" -> col("disc"), "tax" -> col("tax")),
        wideProducts = Set("price"))
    }),

    // Per-document n-gram novelty of the held-out slice vs the
    // standing corpus (exact integer counts, one IEEE division).
    "q_novelty" -> ((s, dd) => {
      val docs = t(s, dd, "documents")
      TrainingData.noveltyScore(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3)
    }),

    // Bigram-LM fluency scoring of the held-out slice against the
    // standing corpus (CCNet-style quality filter): add-one-smoothed
    // conditional probabilities in fixed point — bigint mul/div only,
    // one final IEEE division — so even the double avg is bit-exact.
    "q_lm_score" -> ((s, dd) => {
      val docs = t(s, dd, "documents")
      TrainingData.lmScore(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text")
    }),

    // DSIR importance weights: score the raw 3/4 slice against the
    // target 1/4 slice over hashed 1+2-gram features — fixed-point
    // likelihood ratios, so even avg_ratio is bit-exact.
    "q_dsir" -> ((s, dd) => {
      val docs = t(s, dd, "documents")
      TrainingData.dsirWeights(
        docs.where(col("doc_id") % 4 =!= 0),
        docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text")
    }),

    // Market-basket co-occurrence on lineitem: parts bought together
    // within an order, support >= 2, with exact-division lift.
    "q_cooccur" -> ((s, dd) =>
      graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))),

    // JL random projection 64 -> 8 dims, exploded to (vec, coord)
    // rows — each coordinate one deterministic ordered IEEE sum.
    "q_jlproj" -> ((s, d) =>
      graft.operators.Similarity.randomProject(
        t(s, d, "embeddings"), col("embedding"), inDim = 64, outDim = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "proj")))),

    // Distribution drift: chi-square of the odd-event value-histogram
    // against the even-event baseline per event type — denominators
    // cleared, so the statistic is an exact integer sum. Binning uses
    // `div` (truncate toward zero — DuckDB's integer `//` matches
    // exactly, verified −7//2 = −3, so negatives would bin fine too;
    // events.value >= 0 at every SF regardless).
    "q_drift" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT) div 500").as("bin"))
      graft.operators.Quality.chiSquareDrift(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0),
        Seq("event_type"), col("bin"))
    }),

    // Reciprocal-rank fusion of two per-language rankings — a length
    // prior over ALL docs fused with a deterministic md5 exploration
    // ranking over a 2/3 candidate subset (non-overlap is RRF's
    // raison d'etre; misses contribute 0).
    "q_rrf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w1 = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val w2 = Window.partitionBy(col("lang"))
        .orderBy(TrainingData.keyHash(col("doc_id"), "graft"), col("doc_id"))
      graft.operators.Ranking.rrfFuse(Seq(
        docs.select(col("doc_id"), row_number().over(w1).as("rank")),
        docs.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), row_number().over(w2).as("rank"))),
        "doc_id")
    }),

    // RBO: how much do the by-revenue and by-volume supplier top-20s
    // agree, top-weighted — rankings via the distributed prefix-sum
    // rank (never a global window), exact dyadic ppm floors.
    "q_rbo" -> ((s, d) => {
      val per = CacheRegistry.persist(
        t(s, d, "lineitem").groupBy(col("l_suppkey"))
          .agg(sum(expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("_rev"), count(lit(1)).as("_cnt")))
      def top(metric: Column) = Relational
        .prefixSum(per, Seq(-metric, col("l_suppkey")), lit(1L), "rank")
        .where(col("rank") <= 20L)
        .select(col("l_suppkey").as("id"), col("rank"))
      Ranking.rankBiasedOverlap(top(col("_rev")), top(col("_cnt")),
        "id", "rank", depth = 20)
    }),

    // Per-language percentile rank of document length — scale-free
    // cross-domain score calibration; null order pinned explicitly.
    "q_prank" -> ((s, d) =>
      graft.operators.Analytics.percentileRank(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        Seq(col("lang")), col("n_chars").asc_nulls_first)),

    // Welch two-sample t per event type, arms split on user parity —
    // exact (n, S, Q) sums, one IEEE op shape for mean/variance/t.
    "q_abtest" -> ((s, d) =>
      graft.operators.Analytics.abTest(
        t(s, d, "events"), Seq(col("event_type")),
        col("user_id") % 2, round(col("value") * 100).cast("long"),
        armA = "0", armB = "1")),

    // Delta-method SE for the ratio metric purchase-cents-per-event
    // on the same hash arms — exact per-user sums and decimal
    // moments, one fixed IEEE shape per arm.
    "q_delta_ratio" -> ((s, d) =>
      graft.operators.Analytics.deltaRatio(
        t(s, d, "events"), col("user_id") % 2, col("user_id"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L),
        lit(1L))),

    // AMS F2 sketch over the lang:source keyspace — the self-join-
    // size/skew readout in R=9 signed counters (the sketch side
    // shuffles 9 rows at any corpus size), pinned against exact F2.
    "q_ams" -> ((s, d) =>
      graft.operators.Sketches.amsF2(
        t(s, d, "documents"),
        concat(col("lang"), lit(":"), col("source")), replicates = 9)),

    // First-order Markov transition matrix of per-user event-type
    // sequences: exact pair counts, IEEE row-normalized probabilities.
    "q_transitions" -> ((s, d) =>
      graft.operators.Analytics.transitionMatrix(
        t(s, d, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))),

    // Goh-Barabási inter-arrival burstiness per event type: −1
    // metronome, 0 Poisson, →1 human bursts — exact moment core.
    "q_interarrival" -> ((s, d) =>
      Analytics.interarrivalBurstiness(t(s, d, "events"), col("user_id"),
        col("event_type"), col("ts"), col("event_id"))
        .orderBy(col("event_type"))),

    // Eventually-follows graph: detour-proof ordered-pair support per
    // user — the process-discovery relation direct transitions miss.
    "q_follows" -> ((s, d) =>
      Analytics.eventuallyFollows(t(s, d, "events"), col("user_id"),
        col("event_type"), col("ts"), col("event_id"))),

    // Markov conditional entropy of the per-user event chain: how
    // predictable is the next event type — gtest-discipline ln terms.
    "q_markov_entropy" -> ((s, d) =>
      Analytics.markovEntropy(t(s, d, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))),

    // p-chart: daily purchase rate vs the pooled ±3σ binomial
    // limits — comparator-proof rounded fences, LCL clamped at 0.
    "q_pchart" -> ((s, d) =>
      Analytics.pChart(t(s, d, "events"), to_date(col("ts")),
        (col("event_type") === "purchase").cast("long"))),

    // Reciprocity of the event-type transition graph: dyadic and
    // min-flow weighted shares, exact ppm floors.
    "q_reciprocity" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = t(s, d, "events")
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
      graft.operators.Graph.reciprocity(edges, col("src"), col("dst"))
    }),

    // Trailing-window z-score anomaly flags on the event stream: each
    // value vs its user's 20 preceding events (cents-exact sums,
    // closed-form IEEE z, integer-decided degenerate windows).
    "q_zscore" -> ((s, d) =>
      graft.operators.Analytics.rollingZscore(
        t(s, d, "events"),
        Seq(col("user_id")), Seq(col("ts"), col("event_id")),
        round(col("value") * 100).cast("long"),
        window = 20, minPeriods = 5, threshold = 2.0)
        .select(col("event_id"), col("z"), col("is_anomaly"))),

    // Per-user EWMA of event values (alpha = 0.25, seeded at the first
    // event): the ordered stateful fold — bit-exact with the oracle's
    // recursive CTE because both engines run the identical IEEE
    // multiply-add chain in the identical sequence order.
    "q_ewma" -> ((s, d) =>
      graft.operators.Analytics.ewma(
        t(s, d, "events").where(col("value").isNotNull),
        key = col("user_id"), orderBy = Seq(col("ts"), col("event_id")),
        id = col("event_id"), value = col("value"), alpha = 0.25)
        .select(col("id").as("event_id"), col("key").as("user_id"), col("ewma"))),

    // 2-core of the co-purchase graph: peel pendant tendrils to the
    // subgraph where every part keeps >= 2 co-purchase partners
    // (fixpoint inside 5 rounds at this SF — the oracle unrolls 5,
    // idempotent past convergence).
    "q_kcore" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.kCore(pairs, col("item_a"), col("item_b"), k = 2)
    }),

    // Label-propagation communities on the co-purchase graph: 3
    // synchronous rounds, neighbor-majority labels, min-label
    // tie-break — all-integer, so the unrolled oracle matches exactly.
    "q_lpa" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.labelPropagation(
        pairs, col("item_a"), col("item_b"), rounds = 3)
    }),

    // Bellman-Ford shortest paths over the co-purchase graph with a
    // synthetic deterministic weight ((u+v) % 97 + 1, symmetric), 4
    // relaxation rounds from every item divisible by 50 — exact
    // integer distances at a pinned horizon, oracle unrolls the same.
    "q_sssp" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      val w = (pmod(col("item_a") + col("item_b"), lit(97)) + 1).as("w")
      val fwd = pairs.select(col("item_a").as("u"), col("item_b").as("v"), w)
      // checkpoint the directed edge list ONCE: both consumers below
      // (the relax-loop's edge frame and the source set) otherwise
      // re-execute the whole cooccurrence self-join — no ReusedExchange
      // fires across separate actions (the r16 shared-leg discipline)
      val dir = fwd.unionAll(
        pairs.select(col("item_b").as("u"), col("item_a").as("v"), w))
        .transform(CacheRegistry.checkpoint(_))
      val srcs = dir.select(col("u").as("n")).distinct().where(col("n") % 50 === 0)
      graft.operators.Graph.shortestPaths(
        dir, col("u"), col("v"), col("w"), srcs, col("n"), rounds = 4)
    }),

    // Triangle census of the co-purchase graph (edges = q_cooccur
    // pairs): per-node triangle counts + clustering coefficient via
    // degree-ordered orientation.
    "q_triangles" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.triangleCounts(pairs, col("item_a"), col("item_b"))
    }),

    // Moran's I: do co-purchased parts share a price tier — cleared-
    // mean exact integers over the co-purchase edges, one division.
    "q_moran" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.moranI(pairs, col("item_a"), col("item_b"),
        t(s, dd, "part"), col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))
    }),

    // Rich-club density ladder of the same co-purchase graph: exact
    // conditional counts per literal threshold, one ppm floor each.
    "q_rich_club" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.richClub(pairs, col("item_a"), col("item_b"),
        Seq(1L, 2L, 4L, 8L))
    }),

    // Whole-graph clustering summary of the same co-purchase graph:
    // exact 3T/wedges transitivity + floored-mean local cc, zero-
    // filled for triangle-less nodes.
    "q_clustering_coef" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.clusteringSummary(pairs, col("item_a"),
        col("item_b"))
    }),

    // Density + Freeman centralization of the same co-purchase graph:
    // saturated-vs-hub-dominated in one exact-integer row.
    "q_centralization" -> ((s, dd) => {
      val pairs = graft.operators.Analytics.cooccurrence(
        t(s, dd, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.degreeCentralization(pairs,
        col("item_a"), col("item_b"))
    }),

    // SCD-2 snapshot merge on a synthetic day-2 customer snapshot
    // exercising all five branches: unchanged, changed (%7 balance
    // bump), deleted (%3), inserted (+1e6 keys), and pre-closed
    // version passthrough.
    "q_scd2" -> ((s, dd) => {
      val c = t(s, dd, "customer")
      val bal = col("c_acctbal").cast("decimal(18,2)")
      val hist = c.select(
          col("c_custkey").as("k"), col("c_name").as("name"), bal.as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        .unionAll(c.where(col("c_custkey") % 10 === 0).select(
          col("c_custkey"), col("c_name"),
          (bal - lit(BigDecimal("50.00"))).cast("decimal(18,2)"),
          lit(-100L), lit(0L).cast("long")))
      val snap = c.where(col("c_custkey") % 3 =!= 0).select(
          col("c_custkey").as("k"), col("c_name").as("name"),
          when(col("c_custkey") % 7 === 0,
            (bal + lit(BigDecimal("100.00"))).cast("decimal(18,2)"))
            .otherwise(bal).as("bal"))
        .unionAll(c.where(col("c_custkey") % 11 === 0).select(
          (col("c_custkey") + 1000000L).as("k"),
          concat(lit("NEW#"), col("c_custkey").cast("string")).as("name"),
          lit(BigDecimal("0.00")).cast("decimal(18,2)").as("bal")))
      // Attr compare runs in exact decimal; the OUTPUT casts to double
      // (exact for cent-scale) — the driver's comparator renders Spark
      // decimals and DuckDB decimals differently, doubles identically.
      Quality.scd2Merge(hist, snap, Seq("k"), Seq("name", "bal"), asOf = 100L)
        .withColumn("bal", col("bal").cast("double"))
    }),

    // Deterministic weighted sampling: 20 docs per language, selection
    // probability increasing in document length — priority ranks are
    // one truncating bigint divide of the standard md5 uniform, so the
    // oracle replays the exact sample.
    "q_weighted_sample" -> ((s, d) =>
      TrainingData.weightedSample(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("w")),
        col("doc_id"), col("w"), k = 20, groupCols = Seq(col("lang")))),

    // Time-series gap fill over weekly per-key order aggregates:
    // spine = each key's own [min, max] tick range; missing weeks get
    // n_orders = 0 and a forward-filled last-observed sum_price.
    // custkey % 97 gives ~0.5 orders/key/week at sf0.01, so gaps
    // genuinely occur and LOCF genuinely carries.
    "q_gapfill" -> ((s, dd) => {
      val weekly = t(s, dd, "orders")
        .select((col("o_custkey") % 97).as("k"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("_d"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .select(col("k"), expr("_d div 7").as("tick"), col("p"))
        .groupBy(col("k"), col("tick"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("p")).cast("decimal(18,2)").as("sum_price"))
      // LOCF runs in exact decimal; output casts to double (exact at
      // cent scale) so the comparator sees identical renderings.
      Relational.gapFill(weekly, Seq("k"), "tick", step = 1L,
        locf = Seq("sum_price"), defaults = Map("n_orders" -> lit(0L)))
        .withColumn("sum_price", col("sum_price").cast("double"))
    }),

    // Equal-frequency quartile binning of event values (exact
    // interpolated percentiles — quantile_cont parity proven by
    // q_percentile — then a strict-compare comparison chain).
    "q_quantile_bins" -> ((s, d) =>
      Relational.quantileBins(
        t(s, d, "events").select(col("event_id"), col("value")),
        col("value"), Seq(0.25, 0.5, 0.75))),

    // Grouped equi-width histogram with densified (zero-count) bins:
    // bin math on unscaled cents (bigint div), counts exact.
    "q_histogram" -> ((s, d) =>
      Analytics.histogram(
        t(s, d, "lineitem").select(col("l_returnflag").as("rf"),
          col("l_extendedprice").as("v")),
        Seq(col("rf")), col("v"),
        lo = BigDecimal("900.00"), width = BigDecimal("5000.00"), nbins = 21)
        .withColumn("bin_lo", col("bin_lo").cast("double"))),

    // TrustRank: teleport mass restricted to the NATION_7 seed
    // suppliers — same scaled-integer step as q_pagerank with the base
    // term masked by seed membership, two iterations, bit-exact.
    // checkpointIters=2: a 2-iteration run needs no mid-loop
    // checkpoint at all — the full superstep chain evaluates in the
    // consumer's single job over the persisted contrib frame.
    "q_trustrank" -> ((s, dd) =>
      Graph.trustRank(tradeEdges(s, dd), "src", "dst",
        nation7Seeds(s, dd), "seed", iters = 2, checkpointIters = 2)
        .select(decodeTradeNode(col("node")).as("node"), col("score"))),

    // Multi-source BFS over the trade graph: hop distance from the
    // NATION_7 suppliers as the "distance from trusted seeds" quality
    // measure. Exact integers — byte-comparable against the oracle's
    // recursive CTE at any partitioning.
    "q_hop_distance" -> ((s, dd) =>
      Graph.hopDistance(tradeEdges(s, dd), "src", "dst",
        nation7Seeds(s, dd), "seed", maxHops = 3)
        .select(decodeTradeNode(col("node")).as("node"), col("dist"))),

    // Sampled harmonic centrality on the trade graph: 8 md5-drawn
    // seeds advance in ONE tagged BFS; exact 10^6 div d floors,
    // global top-50.
    "q_harmonic" -> ((s, dd) =>
      Graph.harmonicCentrality(tradeEdges(s, dd), col("src"), col("dst"),
        nSeeds = 8, maxHops = 3, k = 50)
        .select(decodeTradeNode(col("node")).as("node"), col("n_reached"),
          col("harmonic_ppm"))),

    // Sampled distance profile of the trade graph: 8-seed BFS →
    // reached-pair histogram → diameter lower bound, 50%/90%
    // effective diameters (integer CDF compares), exact mean ppm.
    "q_graph_dist" -> ((s, dd) =>
      Graph.distanceSummary(tradeEdges(s, dd), col("src"), col("dst"),
        nSeeds = 8, maxHops = 3)),

    // Pair-sampled betweenness on the trade graph: ONE 8-seed tagged
    // BFS carries exact decimal path counts; each s<t seed pair pays
    // (10^6·σ_sv·σ_tv) div σ_st into every middle node on a shortest
    // path; global top-50. The broker/bridge readout beside
    // q_harmonic's closeness and q_pagerank's prestige.
    //
    // DECISION (r10 verdict #7, recorded round 11): q_harmonic,
    // q_graph_dist and q_betweenness each rebuild the trade graph and
    // run a near-identical 8-seed BFS (~14 s combined in-run). ACCEPT
    // the duplication: gate queries are independent (spark, dir) =>
    // DataFrame by driver contract, so sharing the BFS would need
    // cross-query session caching that no other query relies on —
    // standing mutable state the bench's isolation barrier would then
    // have to special-case — and the three standalone timings are the
    // per-readout regression signal the per-family graph budget
    // tracks. Cost stays bounded by that ratcheted budget.
    "q_betweenness" -> ((s, dd) =>
      Graph.betweennessSampled(tradeEdges(s, dd), col("src"), col("dst"),
        nSeeds = 8, maxHops = 3, k = 50)
        .select(decodeTradeNode(col("node")).as("node"), col("n_pairs"),
          col("between_ppm"))),

    // Approximate-quantile gate (same pattern as the HLL gate): the
    // sketch median must land between the exact 49th and 51st
    // percentiles. The bound is only structural once a group has
    // enough rows that rank ±1 fits inside [p49, p51] (~n ≥ 52:
    // percentile_approx returns a data value, the exact percentiles
    // interpolate) — tiny groups pass vacuously rather than flap.
    "q_approx_quantile" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("_apx"),
          percentile(col("value"), lit(0.49)).as("_p49"),
          percentile(col("value"), lit(0.51)).as("_p51"))
        .select(
          col("event_type"), col("n"),
          (col("n") < 200 ||
            (col("_apx") >= col("_p49") && col("_apx") <= col("_p51"))).as("approx_ok"))),

    // -- training-data pipeline ------------------------------------- //
    // Deterministic stratified sampling: md5-threshold per language
    // stratum — reproducible across engines/retries, unlike rand().
    "q_sample" -> ((s, d) =>
      TrainingData.stratifiedSample(
        t(s, d, "documents"), col("lang"), col("doc_id"),
        Map("en" -> 0.5, "es" -> 0.25), defaultFraction = 1.0)
        .select(col("doc_id"), col("lang"), col("source"))),

    // Temperature-flattened language mixing: per-lang keep fraction
    // sqrt(c_min/c_lang) (temperature 0.5), md5-threshold keeps —
    // IEEE-exact math end-to-end so the oracle re-derives the exact
    // same sample from counts alone. (lang is the skewed domain in the
    // testdata — en dominates — so the downsample actually fires;
    // source counts are uniform and would make the gate vacuous.)
    "q_mixture" -> ((s, d) =>
      TrainingData.mixtureSample(
        t(s, d, "documents"), col("lang"), col("doc_id"), temperature = 0.5)
        .select(col("doc_id"), col("lang"))),

    // Per-domain cap (corpus balancing): at most 30 docs per source,
    // deterministic keep order.
    "q_domain_cap" -> ((s, d) =>
      TrainingData.capPerGroup(
        t(s, d, "documents"), Seq(col("source")), Seq(col("doc_id")), 30)
        .select(col("source"), col("doc_id"), col("rank"))),

    // Overlapping word-window chunking (context-window splitter).
    // Chunk text is emitted as md5 so the gate compares content without
    // hauling full chunk strings through the hash compare.
    "q_chunks" -> ((s, d) =>
      TrainingData.chunkWords(t(s, d, "documents"), Seq("doc_id"), "text", 64, 32)
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk")).as("chunk_md5"),
          col("n_tokens"))),

    // Gopher-style repetition quality stats over word 2-grams.
    "q_repetition" -> ((s, d) =>
      TrainingData.repetitionStats(t(s, d, "documents"), "doc_id", "text", 2)
        .select(col("id").as("doc_id"), col("n_grams"), col("top_frac"),
          col("distinct_frac"))),

    // PII redaction; synthetic email+phone appended per row so the scrub
    // fires on EVERY document (testdata text alone would be vacuous).
    "q_redact" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TrainingData.redactPii(
          concat(substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"), lit("@example.com or 555-123-4567")))
          .as("redacted"))),

    // Concat-and-chunk sequence packing into 2048-token sequences,
    // packed per source shard in doc_id order.
    "q_pack" -> ((s, d) =>
      TrainingData.packSequences(
        t(s, d, "documents").select(
          col("doc_id"), col("source"), size(words(col("text"))).as("n_tokens")),
        Seq(col("source")), Seq(col("doc_id")), col("n_tokens"), 2048L)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("seq_index"), col("seq_offset"))),

    // TOKEN-exact chunking (32-token windows over the corpus-trained
    // 200-merge BPE tokenizer), gated by the q_bpe lossless-roundtrip
    // discipline: chunk boundaries fall MID-WORD, so concatenating a
    // document's chunks in chunk_id order and detokenizing must
    // rebuild the exact word stream the oracle computes independently
    // — any boundary/marker bug breaks the md5. within_window pins
    // that no chunk ever exceeds the token budget.
    "q_chunk_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.functions.Bpe.learnMerges(
        docs.select(explode(words(col("text"))).as("w")), "w", numMerges = 200)
      TrainingData.chunkTokens(docs, Seq("doc_id"), "text", merges, 32, 32)
        .groupBy(col("doc_id"))
        .agg(
          md5(trim(array_join(
            transform(
              array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
              x => x.getField("chunk")),
            ""))).as("detok_md5"),
          (max(col("n_tokens")) <= 32).as("within_window"))
    }),

    // TOKEN-exact sequence packing: the q_pack tape arithmetic with
    // per-doc counts from the BPE encoder at zero merges — one token
    // per code point plus the </w> terminal, so the oracle recomputes
    // every count as len(word)+1 in closed form (the learned-merge
    // path is exercised by q_chunk_tokens and the spec laws; the
    // packing operator is merge-agnostic).
    "q_pack_tokens" -> ((s, d) =>
      TrainingData.packSequencesByTokens(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("text")),
        Seq(col("source")), Seq(col("doc_id")), "text", Nil, 2048L)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("seq_index"), col("seq_offset"))),

    // Train/benchmark contamination: doc_id % 5 == 0 plays the held-out
    // benchmark; training docs sharing >= 3 distinct word 3-grams with
    // any benchmark doc are flagged (planted near-dup pairs that cross
    // the split make this non-vacuous).
    "q_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TrainingData.contaminationCheck(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, minShared = 3, maxDocFreq = 100)
    }),

    // Duplicated-span fraction: share of each doc's distinct 3-grams
    // already seen in an earlier doc — the span-level "copied text"
    // filter signal (planted near-dups make the tail non-vacuous).
    "q_span_dup" -> ((s, d) =>
      Dedup.duplicateSpanFraction(t(s, d, "documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup"), col("dup_frac"))),

    // Lee-et-al-style span REMOVAL: every 5-gram occurrence whose text
    // appears in an earlier doc is cut (first owner keeps its copy),
    // and the cleaned token text is rebuilt — exact string output,
    // byte-compared against the oracle's rebuild.
    "q_span_removal" -> ((s, d) =>
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("clean_text"))),

    // One-sided containment (quote detection): |A∩B|/|A| per direction —
    // a short doc quoted inside a long one scores high here while its
    // Jaccard stays low.
    "q_containment" -> ((s, d) =>
      Dedup.containmentPairs(
        t(s, d, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.6, maxDocFreq = 100)),

    // Per-type quantile clipping (outlier winsorization) on the event
    // stream; exact percentiles so the oracle can pin the bounds.
    "q_winsorize" -> ((s, d) =>
      TrainingData.winsorize(
        t(s, d, "events"), Seq("event_type"), col("value"), 0.05, 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("value_clipped"), 4).as("value_clipped"))),

    // Data-quality expectation report over lineitem: one aggregate
    // pass for the scalar checks + one grouped pass per uniqueness
    // constraint; the narrow quantity range and low-cardinality unique
    // key are deliberate failures so both branches are exercised.
    "q_expect" -> ((s, d) =>
      Quality.expect(
        t(s, d, "lineitem"),
        Seq(
          Quality.notNull("l_orderkey"),
          Quality.inRange("l_quantity", 1, 10),
          Quality.accepted("l_returnflag", Seq("A", "N", "R")),
          Quality.satisfies("positive_price", col("l_extendedprice") > 0),
          Quality.rowCountBetween(1L, 1000000000L)),
        unique = Seq(Seq("l_orderkey", "l_linenumber"), Seq("l_returnflag")))),

    // Corpus snapshot diff (day-2 release gate): v1 = docs with
    // id % 7 != 0, v2 = docs with id % 5 != 0 where every id % 3 == 0
    // doc gained a " v2" suffix — all four statuses appear, and the
    // join carries only (id, md5 fingerprint), never text.
    "q_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val v1 = docs.where(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val v2 = docs.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Quality.snapshotDiff(v1, v2, "doc_id", "text")
    }),

    // Decile assignment per event type (ntile window, tiebroken).
    "q_ntile" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"), col("event_type"),
          // explicit NULLS LAST: Spark asc defaults nulls-first, DuckDB
          // nulls-last — pin the tie so a null value can never diverge
          ntile(10).over(Window.partitionBy(col("event_type"))
            .orderBy(asc_nulls_last("value"), col("event_id"))).as("decile"))),

    // Robust outlier flags: per-type median + MAD, |x-med| > 3σ_robust.
    "q_mad" -> ((s, d) =>
      TrainingData.madOutliers(t(s, d, "events"), Seq(col("event_type")), col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("is_outlier"))),

    // Deterministic global training-order shuffle: md5-keyed position,
    // range-partitioned sort + partition-local indexing (no single-
    // partition window, no rand()).
    "q_shuffle" -> ((s, d) =>
      TrainingData.deterministicShuffle(t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), col("pos"))),

    // Document-embedding pipeline composition: 32-word chunks -> a
    // deterministic 8-dim "embedding" per chunk (md5-derived DYADIC
    // values k/1024, so float casts and double sums are exact in any
    // order) -> per-doc mean pooling through the TYPED vectorMean
    // Aggregator. Gates the UDAF's reduce/merge/finish arithmetic
    // against an oracle that recomputes the means from scratch.
    "q_doc_embed" -> ((s, d) => {
      val dims = 1 to 8
      val chunks = TrainingData.chunkWords(
        t(s, d, "documents"), Seq("doc_id"), "text", 32, 32)
      val emb = chunks.select(col("doc_id"),
        array(dims.map(i =>
          (conv(substring(md5(concat(col("chunk"), lit(s":$i"))), 1, 8), 16, 10)
            .cast("long") % 1024 / lit(1024.0))): _*)
          .cast("array<float>").as("vec"))
      val mean = udaf(graft.functions.TypedAggregators.vectorMean,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
      val pooled = emb.groupBy(col("doc_id")).agg(mean(col("vec")).as("_m"))
      pooled.select(col("doc_id") +:
        dims.map(i => col("_m").getItem(i - 1).as(s"mean_$i")): _*)
    }),

    // BPE tokenizer: train 200 merges on the corpus vocabulary (one
    // distributed word count + driver merge loop), encode every doc
    // with the fused expression, and gate LOSSLESSNESS — detokenizing
    // (join tokens, </w> -> space) must rebuild the exact word stream
    // the oracle computes independently.
    "q_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.functions.Bpe.learnMerges(
        docs.select(explode(words(col("text"))).as("w")), "w", numMerges = 200)
      // top_merge pins the TRAINING path too: the first learned merge
      // is the corpus-wide argmax adjacent symbol pair, which the
      // oracle recomputes from scratch in SQL (same freq-then-lexi
      // tiebreak) — a lossless roundtrip alone would pass for any
      // character-preserving encoder.
      // Guard the degenerate corpus (no adjacent pair reaches
      // minPairFreq): emit a null top_merge instead of throwing.
      // Note the oracle recomputes the argmax over the FULL
      // vocabulary while learnMerges caps at maxVocab=65536 — at the
      // test SFs the vocab is far below the cap, so they agree; a
      // corpus past the cap would need the oracle capped the same way.
      val topMerge = merges.headOption
        .fold(lit(null).cast("string"))(m => lit(m._1 + " " + m._2))
      docs.select(col("doc_id"),
        graft.functions.Bpe.encode(words(col("text")), merges).as("_toks"))
        .select(col("doc_id"),
          md5(trim(regexp_replace(array_join(col("_toks"), ""), "</w>", " ")))
            .as("detok_md5"),
          topMerge.as("top_merge"))
    }),

    // Corpus top-50 word-bigram vocabulary (stop-gram profiling).
    "q_top_ngrams" -> ((s, d) =>
      Ranking.topNgrams(t(s, d, "documents"), "text", n = 2, k = 50)),

    // Church-Gale burstiness of the top-50 terms: CF/DF repeat rate
    // and per-doc-count VMR, exact integer floors end-to-end.
    "q_burstiness" -> ((s, d) =>
      Ranking.termBurstiness(t(s, d, "documents"), col("doc_id"),
        col("text"), k = 50)),

    // Incremental (day-2) dedup gate: a new batch — the %5==0 docs,
    // verbatim copies of some standing docs under shifted ids, and
    // PLANTED near-dup clones (two sentinel tokens prepended to
    // standing %50==3 docs of >= 20 words) — dedupes against the
    // standing corpus's fingerprint+band index. Pins: every exact
    // copy is dropped (fingerprint path, guaranteed) and >= 90% of
    // the planted clones whose MEASURED bigram jaccard vs their
    // original is >= 0.8 are dropped. Prepending 2 tokens adds at
    // most 2 bigram shingles, so a >= 20-word doc sits at
    // j = s/(s+2) >= ~0.9, where the any-band miss probability is
    // (1-j⁴)¹⁶ ≈ 4e-8 per pair — the pin cannot flap. The jaccard is
    // measured per planted PAIR directly (shingle the ~2% planted
    // docs, one equi-join) — NOT via a full-corpus pair sweep: the
    // ngram-pair machinery already has its own gates (q_dedup_ngram,
    // q_jaccard_sweep), and a 348-query bench cannot afford re-proving
    // it inside this one.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val old = docs.where(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
      val copies = old.where(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val plantedSrc = old.where(col("doc_id") % 50 === 3)
        .where(size(graft.functions.TextFunctions.words(col("text"))) >= 20)
        .transform(CacheRegistry.checkpoint(_)) // feeds clones AND the shingle audit leg
      val clones = plantedSrc.select(
        (col("doc_id") + 200000L).as("doc_id"),
        concat(lit("zq zq "), col("text")).as("text"))
      // four consumers (index build, fingerprints, n_new, the kept
      // anti-join) would each re-run the union + the regex-tokenizing
      // clone filter — checkpoint the assembled batch once
      val newBatch = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).unionAll(copies).unionAll(clones)
        .transform(CacheRegistry.checkpoint(_))
      // index and kept each feed multiple gate legs — persist so the
      // 64-hash/16-band index build and the anti-join pipeline run
      // once, not once per leg (the edgeIncidentLabels lesson).
      val index = CacheRegistry.persist(Dedup.buildDedupIndex(old, "doc_id", "text", 2, 64, 16))
      val kept = Dedup.dropAgainstIndex(newBatch, index, "doc_id", "text", 2, 64, 16)
      val keptIds = CacheRegistry.persist(kept.select(col("doc_id")))

      val newFp = newBatch.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val oldFp = old.select(fingerprint(col("text")).as("fp")).distinct()
      // exactDupIds and nearNewIds each feed two readout legs —
      // checkpoint the tiny id sets so the fingerprint semi-join and
      // the planted-pair shingle verification run once each
      val exactDupIds = newFp.join(oldFp, Seq("fp"), "left_semi").select(col("doc_id"))
        .transform(CacheRegistry.checkpoint(_))
      // measured planted-pair jaccard: shingle originals and clones
      // only, join each clone to its origin on the shifted id
      val shOrig = Dedup.shingleDocs(plantedSrc, "doc_id", "text", 2)
        .select((col("id") + 200000L).as("doc_id"), col("sh").as("_sha"))
      val shClone = Dedup.shingleDocs(clones, "doc_id", "text", 2)
        .select(col("id").as("doc_id"), col("sh").as("_shb"))
      val nearNewIds = shOrig.join(shClone, Seq("doc_id"))
        .where(size(array_intersect(col("_sha"), col("_shb"))).cast("double") /
          size(array_union(col("_sha"), col("_shb"))) >= 0.8d)
        .select(col("doc_id"))
        .transform(CacheRegistry.checkpoint(_))
      newBatch.agg(count(lit(1)).as("n_new"))
        .crossJoin(exactDupIds.agg(count(lit(1)).as("n_exact_dup")))
        .crossJoin(exactDupIds.join(keptIds, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("_exact_kept")))
        .crossJoin(nearNewIds.agg(count(lit(1)).as("n_near")))
        .crossJoin(nearNewIds.join(keptIds, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("_near_dropped")))
        .select(
          col("n_new"), col("n_exact_dup"), col("n_near"),
          (col("_exact_kept") === 0L).as("exact_dropped_ok"),
          (col("_near_dropped") >= col("n_near").cast("double") * 0.9).as("near_recall_ok"))
    }),

    // Pure-operator timing twin of q_dedup_incremental: ONLY the
    // day-2 ingestion path (buildDedupIndex + dropAgainstIndex) plus
    // the cheap exact-fingerprint audit — none of the gate's
    // ngram-jaccard recall legs, which cost ~4x the operator itself.
    // The bench figure for incremental dedup is THIS query; the full
    // gate above keeps the near-dup recall verification.
    "q_dedup_incr_op" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val old = docs.where(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
      val copies = old.where(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val newBatch = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).unionAll(copies)
        .transform(CacheRegistry.checkpoint(_)) // shared by index/fingerprint/readout legs
      val index = CacheRegistry.persist(Dedup.buildDedupIndex(old, "doc_id", "text", 2, 64, 16))
      val kept = Dedup.dropAgainstIndex(newBatch, index, "doc_id", "text", 2, 64, 16)
      val newFp = newBatch.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val oldFp = old.select(fingerprint(col("text")).as("fp")).distinct()
      // feeds two readout legs — checkpoint (q_dedup_incremental note)
      val exactDupIds = newFp.join(oldFp, Seq("fp"), "left_semi").select(col("doc_id"))
        .transform(CacheRegistry.checkpoint(_))
      newBatch.agg(count(lit(1)).as("n_new"))
        .crossJoin(exactDupIds.agg(count(lit(1)).as("n_exact_dup")))
        .crossJoin(exactDupIds.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("_exact_kept")))
        .select(col("n_new"), col("n_exact_dup"),
          (col("_exact_kept") === 0L).as("exact_dropped_ok"))
    }),

    // Leakage-safe train/val/test assignment: split by near-dup
    // CLUSTER hash (same pair graph as q_dedup_cc), so planted
    // near-dups can never straddle the train/test boundary.
    "q_split_assign" -> ((s, d) =>
      TrainingData.leakageSafeSplit(
        t(s, d, "documents"), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        shingleSize = 2, threshold = 0.2, maxDocFreq = 100)
        .select(col("doc_id"), col("component"), col("split"))),

    // Corpus-level paragraph dedup over 30-word aligned "paragraphs":
    // each repeated paragraph occurrence survives only at its first
    // (doc_id, pos) owner; docs reassemble from the survivors (planted
    // near-dup docs share aligned spans, so the drop actually fires).
    "q_para_dedup" -> ((s, d) => {
      val paras = TrainingData.chunkWords(
        t(s, d, "documents"), Seq("doc_id"), "text", 30, 30)
        .select(col("doc_id"), col("chunk_id").as("pos"), col("chunk").as("para"))
      Dedup.dropDuplicateParagraphs(paras, "doc_id", "pos", "para", " ")
        .select(col("id").as("doc_id"), col("n_kept"), md5(col("text")).as("text_md5"))
    }),

    // Boilerplate removal: any 30-word paragraph present in >= 2
    // distinct docs vanishes from ALL of them (broadcast kill set).
    "q_boilerplate" -> ((s, d) => {
      val paras = TrainingData.chunkWords(
        t(s, d, "documents"), Seq("doc_id"), "text", 30, 30)
        .select(col("doc_id"), col("chunk_id").as("pos"), col("chunk").as("para"))
      Dedup.dropBoilerplateParagraphs(paras, "doc_id", "pos", "para", minDocFreq = 2, sep = " ")
        .select(col("id").as("doc_id"), col("n_kept"), md5(col("text")).as("text_md5"))
    }),

    // Blocked record linkage: customers vs deterministically-dirtied
    // clones (one digit deleted), blocked on nation, verified with the
    // codegen Jaro-Winkler kernel (byte-pinned to DuckDB's, so the
    // oracle compares the raw double). 0.975 splits true matches from
    // the formulaic-name noise floor without being vacuous.
    "q_jaro_link" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val pos = (col("c_custkey") % 8 + 10).cast("int")
      val dirty = cust.select(
        col("c_custkey").as("d_custkey"), col("c_nationkey").as("d_nationkey"),
        concat(col("c_name").substr(lit(1), pos - 1),
          col("c_name").substr(pos + 1, lit(99))).as("d_name"))
      Dedup.linkageJoin(
        cust, dirty, Seq(col("c_nationkey") -> col("d_nationkey")),
        col("c_name"), col("d_name"), threshold = 0.975)
        .select(col("c_custkey"), col("d_custkey"), col("jw_sim"))
    }),

    // -- data layout ------------------------------------------------- //
    // Z-order clustering: Morton key over (partkey, suppkey) buckets,
    // range-partitioned + sorted so parquet footer ranges tile the
    // curve and predicates on either key prune files. The oracle
    // recomputes the interleave with plain bit arithmetic.
    "q_zorder" -> ((s, d) =>
      Layout.zorderBy(
        t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y")),
        bits = 8, Seq(col("x"), col("y")))
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"), col("zval"))),

    // -- event-sequence analytics ----------------------------------- //
    // Ordered strict funnel over the event stream: signup -> view ->
    // click -> purchase, matched greedily in event-time order. One
    // shuffle on user_id; the per-user fold reads a secondary-sorted
    // iterator with O(1) state (step index + two timestamps).
    "q_funnel" -> ((s, d) =>
      Analytics.funnel(
        t(s, d, "events"), col("user_id"), col("ts"), col("event_type"),
        Seq("signup", "view", "click", "purchase"))),

    // Same funnel under a 3-day completion window from the anchor —
    // the conversion-deadline form every product-analytics tool ships.
    "q_funnel_window" -> ((s, d) =>
      Analytics.funnel(
        t(s, d, "events"), col("user_id"), col("ts"), col("event_type"),
        Seq("signup", "view", "click", "purchase"), maxSpanUs = 3L * 86400000000L)),

    // Weekly cohort retention: cohort = Monday week of first event;
    // cells count distinct users active k whole weeks later.
    "q_cohort" -> ((s, d) =>
      Analytics.cohortRetention(t(s, d, "events"), col("user_id"), col("ts"))),

    // Top-20 event-type trigram paths across users (the Sankey/path
    // view): lead windows per user, TakeOrdered top-k over counts.
    "q_paths" -> ((s, d) =>
      Analytics.topPaths(t(s, d, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"), n = 3, k = 20)),

    // -- multimodal plumbing ---------------------------------------- //
    "q_multimodal" -> ((s, d) =>
      Multimodal.fakeDecodeMeta(
        Multimodal.attachBinary(t(s, d, "documents"), "text"))
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("format"))),

    "q_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.attachBinary(t(s, d, "documents"), "text"), "payload", 4)
        .select(col("doc_id"), col("frame_idx"), col("frame_offset"))),

    // Frame featurize -> pool: md5-derived per-frame signatures and
    // energies aggregated per payload (the mel-then-pool shape with
    // the extractor stubbed deterministically).
    "q_frame_features" -> ((s, d) =>
      Multimodal.frameFeatures(
        Multimodal.attachBinary(t(s, d, "documents"), "text"),
        "doc_id", "payload", 4)),

    // Scene-cut segmentation over the same sampled frames: lag-gap
    // cuts, run-length scenes, per-asset bounded windows.
    "q_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(
        Multimodal.attachBinary(t(s, d, "documents"), "text"),
        "doc_id", "payload", 8)),

    // The decoder slot on NON-media bytes: same metadata as
    // q_multimodal but routed through the mapPartitions decode path
    // with the deterministic stub passed EXPLICITLY (the slot's
    // default is now the real imageDecode), so the partition-batched
    // plumbing itself is oracle-gated.
    "q_decode" -> ((s, d) =>
      Multimodal.decodePartitioned(
        Multimodal.attachBinary(t(s, d, "documents"), "text"), "payload",
        Multimodal.stubDecode)
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("format"))),

    // REAL decoder in the pluggable slot: synthesize a solid-color BMP
    // per document (dims + intensity derived from table columns), decode
    // it with javax.imageio — actual raster access, not header math —
    // and the oracle recomputes the expected width/height/byte-size/mean
    // from the same column formulas. Round-trip equality proves the
    // decode is real; the stub stays the slot's default.
    "q_decode_real" -> ((s, d) => {
      // population mirror: null/negative doc_id or n_chars would make
      // the builder fail (Spark % preserves sign) while the oracle
      // emitted a null/garbage row — filter identically on both sides
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withBmp = Multimodal.attachSyntheticBmp(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L)
      Multimodal.decodeBmpStats(withBmp, "payload")
        .select(col("doc_id"), col("width"), col("height"), col("format"),
          col("n_bytes"), col("px_mean"))
    }),

    // REAL decoders for the image formats a crawl ACTUALLY ships
    // (CommonCrawl image payloads are overwhelmingly jpeg/png/gif,
    // never bmp): synthesize a solid-color PNG per document via the
    // JDK encoder, SNIFF the container from magic bytes (never trust
    // metadata), decode the raster with javax.imageio and read the
    // pixels back. PNG is lossless, so width/height/format/px_mean are
    // all closed-form from the generating columns; byte size is
    // encoder-dependent and deliberately NOT pinned.
    "q_decode_png" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withImg = Multimodal.attachSyntheticImage(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L, lit("png"))
      Multimodal.decodeImageStats(withImg, "payload")
        .select(col("doc_id"), col("width"), col("height"), col("format"),
          col("px_mean"))
    }),

    // GIF twin of q_decode_png: the JDK GIF writer palettes a solid
    // grayscale exactly (proven across all 256 intensities in
    // MiscOpSpec), so the same lossless closed-form oracle applies.
    "q_decode_gif" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withImg = Multimodal.attachSyntheticImage(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L, lit("gif"))
      Multimodal.decodeImageStats(withImg, "payload")
        .select(col("doc_id"), col("width"), col("height"), col("format"),
          col("px_mean"))
    }),

    // JPEG: lossy — encoded bytes and decoded pixel values are
    // encoder-version-dependent and NOT cross-engine-pinnable, so the
    // oracle gates exactly what is contractual: sniffed container
    // format and decoded dimensions. Pixel closeness (|mean - v| <= 2
    // on solid rasters) is bounded in MiscOpSpec instead.
    "q_decode_jpeg" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withImg = Multimodal.attachSyntheticImage(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L, lit("jpeg"))
      Multimodal.decodeImageStats(withImg, "payload")
        .select(col("doc_id"), col("width"), col("height"), col("format"))
    }),

    // ViT patch plan over REAL decoded dimensions: the q_patches
    // coordinate arithmetic fed by decodeImageStats' raster-decoded
    // width/height (not stub column math) — the composition a
    // patch-embedding stage actually runs. 4px tiles on the small
    // synthetic rasters, edge tiles clipped; the oracle recomputes
    // the grid from the generating columns.
    "q_patches_real" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withImg = Multimodal.attachSyntheticImage(docs,
        col("n_chars") % 13 + 1L, col("n_chars") % 7 + 1L,
        col("doc_id") % 256L, lit("png"))
      val stats = Multimodal.decodeImageStats(withImg, "payload")
      Multimodal.patchGrid(stats, "doc_id", col("width"), col("height"),
        patch = 4)
    }),

    // REAL audio decoder in the pluggable slot: synthesize a PCM WAV
    // per document (on/off square wave, samples/amp/period from table
    // columns), decode it with javax.sound.sampled — actual PCM sample
    // access — and the oracle recomputes peak/nonzero-count/energy from
    // the closed-form wave arithmetic. The audio twin of q_decode_real.
    "q_decode_audio" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withWav = Multimodal.attachSyntheticWav(docs,
        col("n_chars") % 50 + 1L, col("doc_id") % 1000 + 1L,
        col("n_chars") % 5 + 1L)
      Multimodal.decodeWavStats(withWav, "payload")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("n_bytes"), col("format"), col("peak"), col("nz_samples"),
          col("energy"))
    }),

    // Per-frame REAL audio features (exact frame energies off decoded
    // samples, pooled per payload) — the md5 energy stub's audio slot
    // proven with genuine DSP; fused zero-shuffle map.
    "q_audio_frames" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withWav = Multimodal.attachSyntheticWav(docs,
        col("n_chars") % 50 + 1L, col("doc_id") % 1000 + 1L,
        col("n_chars") % 5 + 1L)
      Multimodal.audioFrameFeatures(withWav, "doc_id", "payload", 8)
    }),

    // Scene cuts over REAL frame energies: a cut wherever consecutive
    // decoded frames differ in exact energy (threshold 0), run-length
    // segments — the audio twin of q_scene_cuts.
    "q_audio_scenes" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .where(col("doc_id").isNotNull && col("doc_id") >= 0 &&
          col("n_chars").isNotNull && col("n_chars") >= 0)
      val withWav = Multimodal.attachSyntheticWav(docs,
        col("n_chars") % 50 + 1L, col("doc_id") % 1000 + 1L,
        col("n_chars") % 5 + 1L)
      Multimodal.audioSceneCuts(withWav, "doc_id", "payload", 8)
    }),

    // -- json / semistructured -------------------------------------- //
    "q_json" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))),

    // -- pivot ------------------------------------------------------- //
    "q_pivot" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)),

    // -- loop (reference: lib/loop.ex) ------------------------------- //
    "q_loop" -> ((s, d) => {
      val pipeline = Composite(Seq(
        Source.of("frontier",
          t(s, d, "nation").select((col("n_nationkey") + 1).as("v"))),
        Loop("frontier",
          df => df.select((col("v") * 2).as("v")).where(col("v") <= 100),
          ephemeral = true)))
      pipeline(EmptyFlow)("frontier")
    }),

    // -- ordered stateful fold (reference: telegram_test.exs) -------- //
    "q_telegram" -> ((s, d) => {
      val wordsDf = t(s, d, "documents")
        .where(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      val schema = StructType(Seq(
        StructField("line_id", LongType, nullable = false),
        StructField("line", StringType, nullable = false)))
      val pipeline = Composite(Seq(
        Source.of("words", wordsDf),
        Transformer.stateful[(Long, String)](
          "words", Seq(col("doc_id"), col("pos")), schema, (0L, ""),
          finish = { case (id, cur) =>
            if (cur.nonEmpty) Seq(org.apache.spark.sql.Row(id, cur)) else Nil
          }) { case (r, (id, cur)) =>
          val word = r.getString(r.fieldIndex("word"))
          val joined = if (cur.isEmpty) word else cur + " " + word
          if (joined.length > 80)
            (Seq(org.apache.spark.sql.Row(id, joined)), (id + 1, ""))
          else (Nil, (id, joined))
        }))
      pipeline(EmptyFlow)("words")
    }),

    // -- dataset profiling / eval / preprocessing (round 7) ---------- //

    // One-scan column profiler (dataset-card stats): all 5 columns'
    // null/distinct/min/max come out of a SINGLE pass — the multi
    // count-DISTINCT compiles to one Expand(k)+aggregate, not k scans.
    // Profiled columns are integral/string/timestamp only: their
    // string renderings are engine-identical (float rendering is not).
    "q_profile" -> ((s, d) =>
      Diagnostics.profile(
        t(s, d, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_shipdate"))),

    // Retrieval-eval loop: BM25 top-10 per query term scored against
    // graded relevance rel=tf (docs with tf>=2 — single mentions are
    // noise, so precision/MRR are non-degenerate). DCG terms round to
    // 6dp then sum as DECIMAL(18,6) (order-proof); the ln discount is
    // the one cross-engine-identical log (see Ranking.rankEval).
    "q_rank_eval" -> ((s, d) => {
      val scores = Ranking
        .termScores(t(s, d, "documents"), "doc_id", "text")
        .where(col("term").isin("spark", "window", "join"))
      val w = Window.partitionBy(col("term"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val ranked = scores
        .select(col("term").as("query"), col("doc_id"),
          row_number().over(w).as("rank"))
        .where(col("rank") <= 10)
      val rel = scores.where(col("tf") >= 2)
        .select(col("term").as("query"), col("doc_id"), col("tf").as("rel"))
      Ranking.rankEval(ranked, rel, "query", "doc_id", 10)
    }),

    // Per-dimension embedding standardization: gate is the whitening
    // CONTRACT (all 64 dims land at mean 0 ± 1e-6, var 1 ± 1e-3 after
    // the transform) — thresholds absorb float accumulation-order
    // noise, the same recall-gate shape as the ANN queries.
    "q_whiten" -> ((s, d) => {
      val z = Similarity.standardize(t(s, d, "embeddings"), col("embedding"), 64)
      z.select(posexplode(col("z")).as(Seq("zd", "zx")))
        .groupBy(col("zd"))
        .agg(avg(col("zx")).as("m2"), var_pop(col("zx")).as("v2"))
        .agg(
          count(lit(1)).as("n_dims"),
          count(when(abs(col("m2")) <= 1e-6 && abs(col("v2") - 1.0) <= 1e-3, 1))
            .as("dims_ok"))
    }),

    // Incremental (mergeable-state) profile: two disjoint halves
    // profiled separately, states union-merged, finished — the exact
    // legs (counts/nulls/min/max) must equal the full-table profile
    // bit-for-bit; the HLL distinct estimate is gated within 5% of
    // the exact count (sketch bits are engine-specific, estimates
    // are not comparable cross-engine — same contract as
    // q_approx_distinct / q_hll_rollup).
    "q_profile_incr" -> ((s, d) => {
      val cols = Seq("l_orderkey", "l_returnflag", "l_shipdate")
      val li = t(s, d, "lineitem")
      val a = Diagnostics.profileState(li.where(col("l_orderkey") % 2 === 0), cols)
      val b = Diagnostics.profileState(li.where(col("l_orderkey") % 2 =!= 0), cols)
      val merged = Diagnostics.mergeProfileStates(Seq(a, b), cols)
      val prof = Diagnostics.profileFinish(merged, cols)
      val exact = li.agg(
        count_distinct(col(cols.head)).as("_e0"),
        cols.tail.zipWithIndex.map { case (c, i) =>
          count_distinct(col(c)).as(s"_e${i + 1}")
        }: _*)
        .selectExpr(s"stack(${cols.size}, " +
          cols.indices.map(i => s"'${cols(i)}', _e$i").mkString(", ") +
          ") AS (column_name, n_exact)")
      prof.join(exact, "column_name").select(
        col("column_name"), col("n_rows"), col("n_nulls"),
        col("min_val"), col("max_val"),
        (abs(col("n_distinct_est") - col("n_exact")) <=
          col("n_exact") * 0.05).as("approx_ok"))
    }),

    // Salted join gate: the skew-mitigation rewrite (left rows salted
    // Exact skew report over the hottest-key table: integer-only
    // derived columns (share_ppm, ceil-div salt factor) so the salting
    // recommendation itself is cross-engine bit-checkable. partitions
    // pinned at 32 (the session's shuffle width) so the oracle is a
    // closed form, not a conf read.
    "q_key_skew" -> ((s, d) =>
      Diagnostics.skewReport(t(s, d, "events"), Seq(col("event_type")),
        topK = 10, partitions = 32)),

    // Newman modularity of the nation-partition of the trade graph:
    // are customer↔supplier edges intra-nation? Exact integer
    // statistic (Q·E² = Σ_c E·L'_c − D_c²) until one final division.
    "q_modularity" -> ((s, d) => {
      val labels = t(s, d, "customer")
        .select((col("c_custkey") * 2L).as("node"), col("c_nationkey").as("comm"))
        .unionAll(t(s, d, "supplier")
          .select((col("s_suppkey") * 2L + 1L).as("node"), col("s_nationkey").as("comm")))
      Graph.modularity(tradeEdges(s, d), col("src"), col("dst"),
        labels, col("node"), col("comm"))
    }),

    // Strict-prefix dedup: corpus = documents ∪ their half-truncations
    // (synthetic ids +10M) — every half that is a strict prefix of its
    // source (i.e. almost all) must surface, via ONE distributed sort
    // + lead, never a self-join. Returns the flagged ids.
    "q_prefix_dup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val halves = docs.select(
        (col("doc_id") + 10000000L).as("doc_id"),
        expr("substring(text, 1, length(text) div 2)").as("text"))
      Dedup.prefixDups(docs.unionAll(halves), col("text"))
        .select(col("doc_id"))
    }),

    // Expanding distinct-count (COUNT(DISTINCT) OVER — unsupported
    // directly in Spark) via the first-seen-flag + running-sum
    // rewrite; surfaced as the "time to 3rd distinct event type"
    // milestone per user.
    "q_cum_distinct" -> ((s, d) => {
      val e = t(s, d, "events")
      Analytics.expandingDistinct(e, col("user_id"), col("event_type"),
          col("ts"), Seq(col("event_id")))
        .groupBy(col("user_id"))
        .agg(
          max(col("cum_distinct")).as("n_types"),
          usec(min(when(col("cum_distinct") === 3, col("ts")))).as("ts3_us"))
    }),

    // Corpus-scale ANN graph: every vector's IVF top-5 with NO
    // broadcast query set (hash join on the cell key) — recall gated
    // vs the brute top-5 on the vec_id<10 slice.
    "q_ann_graph" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val key = Seq("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val ann = Similarity.ivfKnnGraph(e, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 10)
        .where(col("query_id") < 10)
        .select(col("query_id"), col("neighbor_id"))
      brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(brute.join(ann, key, "left_semi").agg(count(lit(1)).as("_hit")))
        .select(col("n_brute"),
          (col("_hit") >= col("n_brute").cast("double") * 0.6).as("recall_ok"))
    }),

    // Calinski-Harabasz of the ground-truth embedding labels: the
    // clustering variance-ratio, per-dim ANOVA identity, 10dp terms.
    "q_ch" -> ((s, d) =>
      Clustering.calinskiHarabasz(t(s, d, "embeddings"),
        col("label"), col("embedding"))),

    // Davies-Bouldin over the same labeled embeddings: q=2 scatter is
    // moment-algebraic, so the whole index rides the CH decimal
    // discipline — lower is better, each cluster charged its worst
    // neighbor.
    "q_db_index" -> ((s, d) =>
      Clustering.daviesBouldin(t(s, d, "embeddings"),
        col("label"), col("embedding"))),

    // Simplified silhouette on the same labeled embeddings: per-point
    // (b−a)/max(a,b) against own/nearest-other centroids, 8dp decimal
    // distance terms, 6dp mean — the O(n·k·d) scale form.
    "q_silhouette" -> ((s, d) =>
      Clustering.silhouetteSimplified(t(s, d, "embeddings"),
        col("vec_id"), col("label"), col("embedding"))),

    // One Lloyd's assignment step from deterministic seeds (the 8
    // smallest-vec_id embeddings): the fused NearestCentroid codegen
    // kernel vs the oracle's explicit argmin — integer-only aggregate
    // surface (counts, id ranges, label sums), distances compared as
    // in-order double folds on both engines.
    "q_cluster" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .collect()
        .sortBy(_.getLong(0)) // collect order is not a contract; vec_id is
        .map(_.getSeq[Double](1).toArray)
      Clustering.assign(emb, "embedding", seeds)
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n"),
          min(col("vec_id")).as("min_vid"),
          max(col("vec_id")).as("max_vid"),
          sum(col("label").cast("long")).as("label_sum"))
    }),

    // Gini concentration of supplier revenue: exact integer cents +
    // distributed rank (globalIndex, never a one-partition window),
    // one IEEE division pair at the very end.
    "q_gini" -> ((s, d) =>
      Analytics.gini(
        t(s, d, "lineitem").select(col("l_suppkey"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        col("l_suppkey"), col("cents"))),

    // Theil T of document length across sources, decomposed: is
    // volume concentration BETWEEN sources or within them — 12dp
    // decimal term sums off one cell frame.
    "q_theil" -> ((s, d) =>
      Analytics.theilIndex(t(s, d, "documents"), col("source"),
        col("n_chars"))),

    // Mutual information event_type × user-bucket: exact integer
    // counts, 6dp-rounded DECIMAL term sums (order-proof), ln only.
    "q_mutual_info" -> ((s, d) =>
      Analytics.mutualInfo(t(s, d, "events"),
        col("event_type"), (col("user_id") % 4L).as("ubucket"))),

    // Time-weighted average value per user: duration-weighted mean
    // with DECIMAL(38,6) value×µs accumulation, right-open intervals.
    "q_twap" -> ((s, d) =>
      Analytics.timeWeightedAvg(t(s, d, "events"), col("user_id"),
          col("ts"), col("value"), Seq(col("event_id")))
        .withColumnRenamed("key", "user_id")),

    // CMS join-size estimate vs the exact Σ n_A(k)·n_B(k): the
    // one-sided guarantee surfaces as booleans the oracle pins TRUE
    // (the heavy-hitters contract-gate pattern).
    "q_join_size" -> ((s, d) => {
      val est = Sketches.joinSizeEstimate(
        t(s, d, "orders"), col("o_custkey"),
        t(s, d, "customer"), col("c_custkey"), d = 4, w = 2048)
      val exact = t(s, d, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("na"))
        .join(t(s, d, "customer")
          .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("nb")), Seq("k"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_size"))
      est.crossJoin(exact).select(
        col("exact_size"),
        (col("join_size_est") >= col("exact_size")).as("found_ok"),
        (col("join_size_est") <= col("exact_size") + col("bound_slack"))
          .as("bound_ok"))
    }),

    // CDC latest-wins merge: deletes (%7=0), two-version updates
    // (%7=1, seq 2 must win), inserts under fresh keys (%7=2) — the
    // changelog reduces to one winner per key BEFORE touching the
    // base, which is only scanned, never shuffled.
    "q_cdc_merge" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val cols = cust.columns.map(col)
      def tag(df: DataFrame, seq: Long, op: String) =
        df.withColumn("_seq", lit(seq)).withColumn("_op", lit(op))
      val del = tag(cust.where(col("c_custkey") % 7 === 0), 1L, "D")
      val u1 = tag(cust.where(col("c_custkey") % 7 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0), 1L, "U")
      val u2 = tag(cust.where(col("c_custkey") % 7 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 200.0), 2L, "U")
      val ins = tag(cust.where(col("c_custkey") % 7 === 2)
        .withColumn("c_custkey", col("c_custkey") + 1000000L), 1L, "I")
      Relational.applyChangelog(cust,
        del.unionByName(u1).unionByName(u2).unionByName(ins),
        Seq("c_custkey"), col("_seq"), col("_op"))
    }),

    // B-cubed agreement between the lang and source partitions of the
    // corpus: exact integer cells, 6dp DECIMAL term sums.
    "q_bcubed" -> ((s, d) =>
      Ranking.bcubed(t(s, d, "documents"), col("lang"), col("source"))),

    // Rendezvous sharding minimal-disruption law, checked EXACTLY:
    // dropping shard 7 of 8 may move only the keys that lived on 7.
    "q_rendezvous" -> ((s, d) => {
      val keys = t(s, d, "orders").select(col("o_orderkey").as("k"))
      val sharded = Layout.rendezvousShard(
        Layout.rendezvousShard(keys, col("k"), 8, "s8"), col("k"), 7, "s7")
      sharded.agg(
        count(lit(1)).as("n"),
        sum(when(col("s8") === 7, 1L).otherwise(0L)).as("on_removed"),
        sum(when(col("s8") =!= col("s7"), 1L).otherwise(0L)).as("moved"),
        (sum(when(col("s8") =!= col("s7") && col("s8") =!= 7, 1L).otherwise(0L))
          === 0L).as("minimal_disruption"))
    }),

    // Chance-corrected pair-counting companion of q_bcubed: exact
    // DECIMAL(38,0) C(n,2) sums, two IEEE divisions at the end.
    "q_ari" -> ((s, d) =>
      Ranking.adjustedRand(t(s, d, "documents"), col("lang"), col("source"))),

    // Distributed power iteration (2 rounds) for the corpus's top
    // principal direction: per-row in-order dot folds, DECIMAL(38,10)
    // matvec sums, driver-side O(dim) normalization — every step
    // bit-mirrored by the unrolled SQL oracle.
    "q_power_iter" -> ((s, d) =>
      Linalg.powerIteration(
        t(s, d, "embeddings").select(col("embedding")), "embedding", iters = 2)),

    // One-sided CUSUM drift alarm per user: the ewma fold machinery,
    // branch-clamped (never max()) so the recursive-CTE oracle can
    // mirror the exact IEEE chain.
    "q_cusum" -> ((s, d) =>
      Analytics.cusum(t(s, d, "events").where(col("value").isNotNull),
        key = col("user_id"), orderBy = Seq(col("ts"), col("event_id")),
        id = col("event_id"), value = col("value"),
        drift = 0.5, threshold = 5.0)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("cusum"), col("alarm"))),

    // Functional-dependency contract: does l_orderkey determine
    // l_suppkey? (No — multi-supplier orders; the summary counts how
    // badly.) One Expand aggregate + one tiny aggregate.
    "q_fd" -> ((s, d) =>
      Diagnostics.fdCheck(t(s, d, "lineitem"),
        Seq(col("l_orderkey")), col("l_suppkey"))),

    // Benford first-digit screen over exact price cents — integer
    // surface, expectation via the one blessed transcendental (ln).
    "q_benford" -> ((s, d) =>
      Diagnostics.benfordDigits(
        t(s, d, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")),
        col("cents"))),

    // Exact phrase search ("table hash" adjacent, in order) over
    // positional postings: filtered+shifted posting joins on the
    // (doc, start) key — no text crosses a join.
    "q_phrase" -> ((s, d) =>
      Ranking.phraseSearch(t(s, d, "documents"), col("doc_id"), col("text"),
          Seq("table", "hash"))
        .select(col("id").as("doc_id"), col("n_matches"),
          col("first_pos").cast("long").as("first_pos"))),

    // Exact two-sample KS over ONE distributed prefix-sum pass (the
    // Relational.prefixSums primitive — never a one-partition
    // window); integer numerator, one division.
    "q_ks" -> ((s, d) =>
      Analytics.ksTest(t(s, d, "events"), col("event_type"), col("value"),
        "click", "purchase")),

    // Kuiper on the same two samples: both directed CDF gaps summed —
    // tail-sensitive and cyclic-shift-invariant, exact integers.
    "q_kuiper" -> ((s, d) =>
      Analytics.kuiperTest(t(s, d, "events"), col("event_type"),
        col("value"), "click", "purchase")),

    // Cramér–von Mises on the same two samples: the INTEGRATED CDF
    // gap beside KS's max gap, exact ppm on decimal-widened products.
    "q_cvm" -> ((s, d) =>
      Analytics.cramerVonMises(t(s, d, "events"), col("event_type"),
        col("value"), "click", "purchase")),

    // Earth-mover W1 between returned and regular price
    // distributions in cents: CDF gaps × support gaps, one prefix
    // pass + a rank+1 hash join, exact integer numerator.
    "q_wasserstein" -> ((s, d) =>
      Analytics.wasserstein1(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        "R", "N")),

    // Székely-Rizzo energy distance on the same two price samples:
    // all three pairwise |·| sums off ONE prefix pass, zero iff the
    // distributions coincide.
    "q_energy" -> ((s, d) =>
      Analytics.energyDistance(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        "R", "N")),

    // Gini mean difference of price cents: E|X−X'| robust spread +
    // the population Gini as a q_gini cross-check, one CDF pass.
    "q_gmd" -> ((s, d) =>
      Analytics.giniMeanDifference(t(s, d, "lineitem"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Anderson–Darling completes the CDF-gap triple: the same squared
    // gaps re-weighted by 1/(F(1−F)) so TAIL drift dominates — exact
    // per-value ppm floors summed, one prefix pass.
    "q_ad" -> ((s, d) =>
      Analytics.andersonDarling(t(s, d, "events"), col("event_type"),
        col("value"), "click", "purchase")),

    // Yuen's trimmed t on the same two samples: 20%-trimmed means,
    // winsorized variances, Welch df — the outlier-proof mean test
    // beside the rank family.
    "q_yuen" -> ((s, d) =>
      Analytics.yuenTest(t(s, d, "events"), col("event_type"),
        round(col("value") * 100).cast("long"), "click", "purchase")),

    // Cochran-Armitage: does fulfillment trend with the order-priority
    // tier (1-URGENT..5-LOW) — exact ppm z² with df=1 fences.
    "q_trend_test" -> ((s, d) =>
      Analytics.cochranArmitage(t(s, d, "orders"),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        (col("o_orderstatus") === "F").cast("int"))),

    // Pareto frontier of parts: the biggest-AND-priciest staircase —
    // exact integer dominance on the bounded (size, price) grid.
    "q_pareto" -> ((s, d) =>
      Relational.paretoFrontier2d(t(s, d, "part"), col("p_size"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Shape moments per cohort: skewness + excess kurtosis via the
    // integer-mean shift (no cancellation, no overflow) on one cell
    // frame.
    "q_moments" -> ((s, d) =>
      Analytics.groupedMoments(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Jarque-Bera normality gate off the same moment pass: JB from
    // the rounded 6dp shape moments, rounded chi2(2) 95% fence.
    "q_jarque_bera" -> ((s, d) =>
      Analytics.jarqueBera(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))
        .select(col("group").as("l_returnflag"), col("n"),
          col("skewness"), col("kurtosis_excess"), col("jb"),
          col("sig_95"))
        .orderBy(col("l_returnflag"))),

    // Tukey HSD q per cohort pair off the same cents: 6dp decimal
    // within terms, pooled MSW, one IEEE studentized-range shape.
    "q_tukey_hsd" -> ((s, d) =>
      Analytics.tukeyHsd(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Bartlett: the parametric log-variance homogeneity gate over the
    // same cohorts — exact rational group variances, 6dp ln terms.
    "q_bartlett" -> ((s, d) =>
      Analytics.bartlett(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Grubbs: is the single most extreme event value an outlier —
    // exact integer G² ppm off one (value, count) cell frame.
    "q_grubbs" -> ((s, d) =>
      Analytics.grubbs(t(s, d, "events"),
        round(col("value") * 100).cast("long"))),

    // Mahalanobis top-10: line items OFF the price~quantity ridge —
    // exact decimal moments, closed-form 2×2 inverse, one fixed
    // per-row IEEE quadratic.
    "q_mahalanobis" -> ((s, d) =>
      Analytics.mahalanobisOutliers(
        // narrow-projection repartition: the exact decimal scatter is
        // per-row-heavy, the single-row-group scan is ONE task, and
        // this operator reads its input TWICE (moment pass + scoring
        // pass) — both consumers reuse the one 4-column exchange, so
        // the shuffle pays for itself (measured 2.4s -> 1.5s; the same
        // repartition REGRESSED the single-pass stats queries and was
        // reverted there). Results are partitioning-independent.
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_quantity"))
          .repartition(s.sparkContext.defaultParallelism),
        col("l_orderkey") * 10L + col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        col("l_quantity").cast("long"), k = 10)),

    // Brown-Forsythe: do the return-flag cohorts differ in price
    // SPREAD — ANOVA F over |cents − group median| on one cell-frame
    // scan (the variance sibling of q_anova's mean test).
    "q_brown_forsythe" -> ((s, d) =>
      Analytics.brownForsythe(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Mantel-Haenszel: even-vs-odd users' purchase odds pooled across
    // DAY strata — the Simpson's-paradox-proof stratified A/B table.
    "q_mantel_haenszel" -> ((s, d) =>
      Analytics.mantelHaenszel(t(s, d, "events"),
        col("ts").cast("date"), col("user_id") % 2 === 0,
        col("event_type") === "purchase")),

    // Kendall tau-b on the bounded (quantity × line-number) grid —
    // exact S and tie terms, one IEEE sqrt at the end.
    "q_kendall" -> ((s, d) =>
      Analytics.kendallTauB(t(s, d, "lineitem"),
        col("l_quantity"), col("l_linenumber"))),

    // Revenue-WEIGHTED quantiles of quantity per return flag — the
    // cents-weighted CDF on the same bounded cell frame.
    "q_wquantile" -> ((s, d) =>
      Analytics.groupedWeightedQuantiles(t(s, d, "lineitem"),
        col("l_returnflag"), col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        Seq(0.5, 0.9))
        .select(col("group").as("l_returnflag"), col("p"), col("value"),
          col("w")).orderBy(col("l_returnflag"), col("p"))),

    // Source concentration of the document corpus: exact HHI ppm,
    // top share, effective source count.
    "q_hhi" -> ((s, d) =>
      TrainingData.concentration(t(s, d, "documents"), col("source"))),

    // Cohen's d / Hedges' g on click-vs-purchase value cents — the
    // effect-size readout beside q_abtest's significance.
    "q_cohens_d" -> ((s, d) =>
      Analytics.cohensD(t(s, d, "events"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"),
        "click", "purchase")),

    // Cliff's delta + Vargha-Delaney A on the bounded quantity
    // domain: returned vs regular lineitems, exact pair-order counts.
    "q_cliffs" -> ((s, d) =>
      Analytics.cliffsDelta(t(s, d, "lineitem"), col("l_returnflag"),
        col("l_quantity"), "R", "N")),

    // Brunner-Munzel: heteroscedasticity-robust relative effect of
    // click vs purchase values — exact placements off one prefix
    // pass, one IEEE shape each for w and the Welch-type df.
    "q_brunner" -> ((s, d) =>
      Analytics.brunnerMunzel(t(s, d, "events"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"),
        "click", "purchase")),

    // Coarsened-exact-matching ATT: even-vs-odd users matched within
    // DAY strata, exact micros terms, unmatched strata surfaced.
    "q_matched_att" -> ((s, d) =>
      Analytics.matchedAtt(t(s, d, "events"),
        col("ts").cast("date"), col("user_id") % 2 === 0,
        (col("value").cast("decimal(18,2)") * 100).cast("long"))),

    // Shannon entropy + normalized diversity of the event-type mix.
    "q_entropy" -> ((s, d) =>
      Analytics.entropy(t(s, d, "events"), col("event_type"))),

    // Compaction sizing contract: ceil(n/target) partitions, checked
    // against the physical layout the operator actually produced.
    "q_compact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val target = 100L
      val compacted = Layout.compact(docs, target)
      val parts = compacted.rdd.getNumPartitions.toLong
      val n = docs.count()
      val expected = (n + target - 1) / target
      import s.implicits._
      Seq((n, parts, expected, parts == expected))
        .toDF("n_rows", "n_partitions", "expected_partitions", "sized_ok")
    }),

    // Point-in-time join: each order reads the dimension version that
    // was valid at ITS order date (the leakage-safe feature-store /
    // SCD2 lookup) — asOfJoin composition, aggregated per version.
    "q_pit" -> ((s, d) => {
      val c = t(s, d, "customer")
      val bal = col("c_acctbal").cast("decimal(18,2)")
      val dim = c.select(col("c_custkey").as("k"), lit(1).as("ver"),
          bal.as("bal"), lit(0L).as("vf"))
        .unionAll(c.where(col("c_custkey") % 2 === 0).select(
          col("c_custkey"), lit(2),
          (bal + lit(BigDecimal("100.00"))).cast("decimal(18,2)"), lit(9496L)))
      val facts = t(s, d, "orders").select(col("o_custkey").as("k"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("t"),
        col("o_totalprice"))
      Relational.asOfJoin(facts, dim, "k", "t", "vf", Seq("ver", "bal"))
        .groupBy(col("ver"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("revenue"),
          sum(col("bal")).cast("double").as("bal_sum"))
    }),

    // Top-2 PCA by Hotelling deflation: the q_power_iter loop, then
    // x ← x − (x·v₁)v₁ row-local and the loop again — four unrolled
    // SQL iterations reproduce every coordinate bit-for-bit.
    "q_pca2" -> ((s, d) =>
      Linalg.topComponents(
        t(s, d, "embeddings").select(col("embedding")), "embedding",
        components = 2, iters = 2)),

    // Cramér's V over the full r×c grid without zero cells:
    // χ² = Σ_obs[(n−E)²/E − E] + N, 6dp DECIMAL terms.
    "q_cramers_v" -> ((s, d) =>
      Analytics.cramersV(t(s, d, "events"),
        col("event_type"), (col("user_id") % 4L).as("ub"))),

    // Holt level+trend smoothing per user (α=0.5, β=0.3): the ewma
    // fold engine with two-double state; recursive-CTE oracle.
    "q_holt" -> ((s, d) =>
      Analytics.holt(t(s, d, "events").where(col("value").isNotNull),
        key = col("user_id"), orderBy = Seq(col("ts"), col("event_id")),
        id = col("event_id"), value = col("value"),
        alpha = 0.5, beta = 0.3)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("level"), col("trend"), col("forecast"))),

    // CUPED variance reduction: first event = pre covariate, rest =
    // post mean; theta/xbar closed-form from exact decimal moments.
    "q_cuped" -> ((s, d) =>
      Analytics.cuped(t(s, d, "events"), col("user_id"),
        (col("user_id") % 2L).as("arm"), col("ts"), col("event_id"),
        col("value"))),

    // Wilson intervals per event type for P(value > 1): closed-form
    // per-group expression, exact integer counts.
    "q_wilson" -> ((s, d) =>
      Analytics.wilsonRates(t(s, d, "events").where(col("value").isNotNull),
        col("event_type"), col("value") > 1.0)),

    // RFM lifecycle grid over orders: quintiled recency/frequency/
    // monetary digits, exact cents.
    "q_rfm" -> ((s, d) =>
      Analytics.rfmSegments(t(s, d, "orders"), col("o_custkey"),
        col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Leave-one-out kNN label probe: do neighbors share labels?
    // Majority of the 5 nearest, ties to the smallest label.
    // Matryoshka prefix-dim eval: top-10 overlap of truncated-vs-full
    // embeddings at 8/16/32 of 64 dims — exact ppm off shared ranks.
    "q_matryoshka" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.matryoshkaEval(e.where(col("vec_id") < 50), e,
          "vec_id", "embedding", k = 10, prefixDims = Seq(8, 16, 32))
        .orderBy(col("prefix_dim"))
    }),

    // MMR diversified re-ranking: query = the md5-smallest vector,
    // relevance = −d² to it (exact milli-unit ints), λ = 0.5; 8 picks
    // trading closeness-to-query against spread — the RAG-window
    // near-duplicate-context answer beside q_kcenter's pure spread.
    "q_mmr" -> ((s, d) => {
      // mirror the oracle's fx0 filters BEFORE the md5 query draw: a
      // null vec_id md5-sorts first on the raw frame but is dropped by
      // the oracle's pre-filter — filter first so both engines draw
      // the same query vector on any future testdata.
      val e = t(s, d, "embeddings")
        .where(col("vec_id").isNotNull && size(col("embedding")) === 64)
      val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .select(col("vec_id").cast("long"), col("embedding")).limit(1).head()
      val qLit = array(q.getSeq[Float](1).map(f =>
        lit(math.floor(f.toDouble * 1000.0).toLong)): _*)
      val cand = e.where(col("vec_id") =!= q.getLong(0)).withColumn("rel",
        -aggregate(
          zip_with(
            transform(col("embedding").cast("array<double>"),
              v => floor(v * lit(1000.0))),
            qLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      TrainingData.mmrRerank(cand, "vec_id", "embedding", "rel", m = 8)
    }),

    // Exact KNN-Shapley data valuation (Jia et al. VLDB'19) of the
    // training corpus against a held-out test slice: which vectors
    // HELP a 5-NN classifier (near + right-labeled) and which HURT
    // (near + wrong-labeled, negative value). Closed-form suffix-sum
    // windows, exact integer distances, sign-out-of-division ppm
    // floors; top-50 most valuable points.
    "q_shapley" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.knnShapley(e.where(col("vec_id") >= 20),
        e.where(col("vec_id") < 20), "vec_id", "embedding", "label",
        k = 5, topN = 50)
    }),

    // The corpus-scale Shapley composition, gated like q_semdedup_knn:
    // knnShapleyAnn over IVF candidates must (a) reproduce the exact
    // knnShapley EXACTLY at nprobe = nlist (every train vector sits in
    // exactly one probed cell, so the pair frame and per-test horizon
    // coincide), and (b) agree with the exact top-50 id set on >= 60%
    // at the working probe (measured 0.74 sf0.01 / 0.82 sf0.1 at
    // nprobe=8, values decay like 1/j so the candidate horizon moves
    // the tail, not the head).
    "q_shapley_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val tr = e.where(col("vec_id") >= 20)
      val te = e.where(col("vec_id") < 20)
      val exact = Similarity.knnShapley(tr, te, "vec_id", "embedding",
        "label", k = 5, topN = 50).transform(CacheRegistry.checkpoint(_))
      // ONE IVF build serves both probe widths (identical nlist/seed ⇒
      // identical index ⇒ identical outputs to the per-leg builds, but
      // the deterministic sample + local Lloyd's + assignment persist
      // run once instead of twice)
      val annIx = Similarity.shapleyAnnIndex(tr, "vec_id", "embedding",
        "label", nlist = 16)
      // full feeds exceptAll in BOTH directions — checkpoint the 50-row
      // frame so the full-probe ANN pipeline runs once, not twice
      val full = Similarity.knnShapleyAnn(tr, te, "vec_id", "embedding",
        "label", k = 5, topN = 50, nlist = 16, nprobe = 16,
        sharedIndex = Some(annIx)).transform(CacheRegistry.checkpoint(_))
      val work = Similarity.knnShapleyAnn(tr, te, "vec_id", "embedding",
        "label", k = 5, topN = 50, nlist = 16, nprobe = 8,
        sharedIndex = Some(annIx))
      val nDiff = exact.exceptAll(full)
        .unionAll(full.exceptAll(exact))
        .agg(count(lit(1)).as("_nd"))
      val nAgree = exact.select("vec_id")
        .join(work.select("vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("_na"))
      exact.agg(count(lit(1)).as("n_top"))
        .crossJoin(nDiff).crossJoin(nAgree)
        .select(col("n_top"),
          (col("_nd") === 0L).as("full_probe_exact"),
          (col("_na") >= col("n_top").cast("double") * 0.6).as("agreement_ok"))
    }),

    // Greedy k-center (Gonzalez) coreset draw over the embedding
    // corpus: 6 farthest-point picks with exact milli-unit integer
    // distances, md5-smallest start, ties to the smaller id. The
    // d2_pick column is the non-increasing coverage-radius curve.
    "q_kcenter" -> ((s, d) =>
      TrainingData.kcenterSelect(t(s, d, "embeddings"), "vec_id",
        "embedding", k = 6)),

    // Linear CKA between the full 64-dim embedding and its 16-dim
    // Matryoshka prefix — the representation-level twin of
    // q_matryoshka's behavioral overlap@k: exact milli-unit
    // fixed-point scatter (decimal(38,0) / HUGEINT), centering via
    // the n-scaled identity, ONE 3-op IEEE readout at 6dp.
    "q_cka" -> ((s, d) =>
      // vec_id IS NOT NULL on both sides: the oracle's scatter
      // self-joins USING (vec_id) (null rows would drop from the join
      // but count in n / column sums); Spark computes row-locally, so
      // filter here to keep the populations identical.
      Linalg.linearCka(
        t(s, d, "embeddings").where(col("vec_id").isNotNull),
        "embedding", prefixDims = 16)),

    "q_knn_eval" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.knnClassify(e.where(col("vec_id") < 50), e,
          "vec_id", "embedding", "label", 5)
        .agg(count(lit(1)).as("n"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("n"), col("n_correct"),
          expr("n_correct * 1000000L div n").as("acc_ppm"))
    }),

    // Hard negatives for contrastive training: top-3 most-similar
    // DIFFERENT-label vectors per query — the near-miss examples a
    // triplet loss learns from; label predicate pushed into the join.
    "q_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.hardNegatives(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", 3)
    }),

    // Last-touch attribution: each purchase credits the latest click
    // by the same user within 7 days — the as-of join composition;
    // only the click TIME surfaces (equal-instant click ids would be
    // tie-nondeterministic, times are not).
    "q_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("k"), usec(col("ts")).as("pt"),
          col("event_id").as("pid"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("k"), usec(col("ts")).as("ct"))
        .withColumn("click_us", col("ct"))
      val windowUs = 7L * 24 * 3600 * 1000000L
      Relational.asOfJoin(purchases, clicks, "k", "pt", "ct", Seq("click_us"))
        .select(col("pid"),
          (col("click_us").isNotNull &&
            col("pt") - col("click_us") <= windowUs).as("_attr"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("_attr"), 1L).otherwise(0L)).as("n_attributed"))
        .select(col("n_purchases"), col("n_attributed"),
          expr("n_attributed * 1000000L div n_purchases").as("attributed_ppm"))
    }),

    // Exact order statistics at scale: per-value counts -> ONE
    // prefix-sum CDF -> each p reads the smallest value reaching
    // ceil(p.N). Zero error, no raw-row sort.
    "q_exact_quantiles" -> ((s, d) =>
      Analytics.exactQuantiles(
        t(s, d, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")),
        col("cents"), Seq(0.5, 0.9, 0.99))),

    // Sweep-line max overlap over synthetic shipment windows
    // [shipdate, shipdate + qty%30 + 1): the +1/−1 deltas run through
    // the distributed prefix-sum primitive, never a global window.
    "q_concurrency" -> ((s, d) => {
      val day0 = lit("1970-01-01")
      val li = t(s, d, "lineitem").select(
        datediff(col("l_shipdate"), day0).cast("long").as("st"),
        (datediff(col("l_shipdate"), day0).cast("long") +
          col("l_quantity").cast("long") % 30L + 1L).as("en"))
      Analytics.maxConcurrency(li, col("st"), col("en"))
    }),

    // randomly, right rows replicated saltFactor ways) must be
    // RESULT-IDENTICAL to the plain join — the oracle IS the plain
    // join, aggregated to a stable surface.
    "q_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      Relational.saltedJoin(li, ord, Seq("okey"), 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice")).as("revenue"))
    }),

    // ROC AUC of "price predicts returns" via the rank-sum identity:
    // midranks over the distinct-price CDF (one prefixSum), exact
    // bigints until the single final division.
    "q_auc" -> ((s, d) =>
      Analytics.aucRankSum(t(s, d, "lineitem"),
        (col("l_returnflag") === "R").cast("long"), col("l_extendedprice"))),

    // One-sample Kuiper uniformity of event hours per type: catches
    // the bimodal/cron patterns Rayleigh is blind to — exact 24n
    // rationals on the dense hour grid.
    "q_kuiper_uniform" -> ((s, d) =>
      Analytics.kuiperUniformHours(t(s, d, "events"), col("event_type"),
        hour(col("ts")))
        .select(col("group").as("event_type"), col("n"), col("v_num"),
          col("v_denom"), col("v"))
        .orderBy(col("event_type"))),

    // Rayleigh circular concentration of event hours per type: is
    // activity circadian-clumped — JVM-embedded trig literals, 6dp
    // decimal term sums, one IEEE shape.
    "q_rayleigh" -> ((s, d) =>
      Analytics.circularStats(t(s, d, "events"), col("event_type"),
        hour(col("ts")))
        .select(col("group").as("event_type"), col("n"), col("rbar"),
          col("z"), col("sig_95"))
        .orderBy(col("event_type"))),

    // Chatterjee's xi: does price functionally depend on quantity —
    // the any-shape dependence screen Pearson/Spearman can't be.
    "q_chatterjee" -> ((s, d) =>
      Analytics.chatterjeeXi(t(s, d, "lineitem"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Decile gains/lift of the same signal: equal-population deciles
    // by rank, cumulative capture, exact lift — the targeting table.
    "q_gains" -> ((s, d) =>
      Analytics.gainsTable(t(s, d, "lineitem"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        (col("l_returnflag") === "R").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Exact F1 sweep over the same price->returns signal: the
    // deployable threshold AUC doesn't give, argmax via struct-max.
    "q_f1_sweep" -> ((s, d) =>
      Analytics.f1Sweep(t(s, d, "lineitem"),
        (col("l_returnflag") === "R").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))),

    // Smoothed mean target encoding of order priority -> E[totalprice]:
    // integer cents, floor-div contract, m=20 shrink to global mean.
    "q_target_encode" -> ((s, d) =>
      Analytics.targetEncode(t(s, d, "orders"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"), m = 20L)
        .orderBy(col("category"))),

    // Deterministic half-sample bootstrap of mean order value: 32
    // arithmetic-rule replicates, exact integer means, spread summary.
    "q_bootstrap" -> ((s, d) =>
      Analytics.bootstrapMean(t(s, d, "orders"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        replicates = 32)),

    // Lag-1 autocorrelation of `value` per user over (ts, event_id)
    // order: momentum-vs-noise per series, decimal moments.
    "q_autocorr" -> ((s, d) =>
      Analytics.lagAutocorr(t(s, d, "events"),
        col("user_id"), Seq(col("ts"), col("event_id")), col("value"),
        k = 1, minPairs = 3L)
        .select(col("key").as("user_id"), col("n_pairs"), col("r"))),

    // Degree distribution of the bidirectional trade graph: per-degree
    // node counts + ppm share of total degree — hub/skew readout.
    "q_degree_dist" -> ((s, d) =>
      Graph.degreeDistribution(tradeEdges(s, d), col("src"))),

    // Skip-gram pairs (window 2) with PMI over the documents corpus —
    // word2vec-style training pairs + collocation score.
    "q_skipgram" -> ((s, d) =>
      Ranking.skipgramPmi(t(s, d, "documents"), "doc_id", "text",
        window = 2, minCount = 2L, k = 100)),

    // Deterministic 5-fold assignment audit: per-(fold, priority)
    // counts + stratum share — the split-balance check.
    "q_kfold" -> ((s, d) =>
      TrainingData.kfoldAudit(t(s, d, "orders"), col("o_orderkey"),
        col("o_orderpriority"), k = 5)),

    // Reliability bins: does price level predict return rate —
    // $5k-wide bins, exact observed positive rate in ppm.
    "q_calibration" -> ((s, d) =>
      Analytics.calibrationBins(t(s, d, "lineitem"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("l_returnflag") === "R").cast("long"), binWidth = 500000L)),

    // Blocked Levenshtein linkage: near-identical customer names
    // within a nation, block-summarized (codegen'd builtin kernel).
    "q_edit_dist" -> ((s, d) =>
      Dedup.editDistanceLink(t(s, d, "customer"), col("c_nationkey"),
        col("c_custkey"), col("c_name"), maxDist = 2)
        .select(col("block").as("c_nationkey"), col("n_pairs"),
          col("min_dist"), col("sum_dist"))),

    // PSI between even/odd event halves over the q_drift bin grid —
    // drift MAGNITUDE next to q_drift's chi-square significance.
    "q_psi" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT) div 500").as("bin"))
      graft.operators.Quality.psi(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0), col("bin"))
    }),

    // Information gain + gain ratio of event_type about the user
    // bucket — the decision-tree split readout beside q_cramers_v.
    "q_info_gain" -> ((s, d) =>
      Analytics.informationGain(t(s, d, "events"),
        col("event_type"), (col("user_id") % 4L).as("ub"))),

    // chi2 term selection: which words mark English-labeled docs —
    // document-presence 2x2 tables, top-50 discriminators.
    "q_chi2_terms" -> ((s, d) =>
      Ranking.chi2Terms(t(s, d, "documents"), "doc_id", "text",
        (col("lang") === "en").cast("long"), minDf = 2L, k = 50)),

    // Per-returnflag min-max (ppm) + z-score scaling of price cents:
    // stats agg broadcast back, no window re-sort of the fact table.
    "q_feature_scale" -> ((s, d) =>
      TrainingData.featureScale(t(s, d, "lineitem"),
        Seq(col("l_orderkey"), col("l_linenumber")), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("grp").as("l_returnflag"), col("minmax_ppm"), col("z"))),

    // Lorenz deciles of revenue concentration: exact value mass of
    // the smallest p*N line items, integer end-to-end.
    "q_lorenz" -> ((s, d) =>
      Analytics.lorenzCurve(t(s, d, "lineitem"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        (1 to 10).map(_ / 10.0))),

    // 3-step hash-guided walks over the trade graph from the low-id
    // customer nodes — reproducible DeepWalk-style corpus rows.
    "q_walks" -> ((s, d) => {
      val e = tradeEdges(s, d)
      Graph.hashWalks(e, col("src"), col("dst"),
        e.where(col("src") % 2L === 0L && col("src") < 200L), col("src"),
        steps = 3, salt = "w")
    }),

    // Burst compaction: rapid-fire events per user collapse to one
    // row per <=1h-gap burst — retry-storm / double-fire cleanup.
    "q_debounce" -> ((s, d) =>
      Relational.debounce(t(s, d, "events"), col("user_id"), col("ts"),
        Seq(col("event_id")), gapUs = 3600L * 1000000L)
        .select(col("key").as("user_id"), col("burst_id"),
          col("first_ts_us"), col("last_ts_us"), col("n_events"))),

    // Gaps-and-islands: each user's activity days collapsed to maximal
    // consecutive-day runs — streak/tenure readout, per-key window only.
    "q_islands" -> ((s, d) =>
      Relational.islands(t(s, d, "events"), col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01")))
        .select(col("key").as("user_id"), col("start_pos").as("start_day"),
          col("end_pos").as("end_day"), col("n_steps").as("n_days"))),

    // Deterministic per-user modal event_type (max count, lexicographic
    // tiebreak) — two map-combinable aggregates, zero windows.
    "q_mode" -> ((s, d) =>
      Relational.modePerKey(t(s, d, "events"), col("user_id"),
        col("event_type"))
        .select(col("key").as("user_id"), col("mode"), col("n"))),

    // Seasonal-naive (lag-7) vs one-step-naive MAE over per-type daily
    // value cents: the MASE forecastability screen, integer until the
    // one final division.
    "q_mase" -> ((s, d) =>
      Analytics.seasonalNaiveError(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"), season = 7)
        .select(col("group").as("event_type"), col("n_seasonal"),
          col("ae_seasonal_cents"), col("n_naive"), col("ae_naive_cents"),
          col("mase_ppm"))
        .orderBy(col("event_type"))),

    // Flesch-style readability per document: exact sentence/word/vowel-
    // group counts, one fixed-shape double expression — all codegen.
    "q_readability" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        sentenceCount(col("text")).as("n_sentences"),
        syllableCountApprox(col("text")).as("n_syllables"),
        readability(col("text")).as("flesch"))),

    // Common-neighbor link prediction on the high-quantity trade
    // bipartite graph: customer pairs sharing suppliers, Jaccard ppm,
    // df-capped postings, global top-100.
    "q_common_neighbors" -> ((s, d) => {
      val adj = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem")
            .where(col("l_quantity") > 45)
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      Graph.commonNeighborPairs(adj, col("cust"), col("supp"),
        maxDeg = 200, k = 100)
    }),

    // Adamic-Adar / resource-allocation on the same capped postings:
    // shared RARE suppliers outvote shared hubs — exact integer RA
    // ppm terms, 6dp decimal AA terms, global top-k.
    "q_adamic" -> ((s, d) => {
      val adj = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem")
            .where(col("l_quantity") > 45)
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      Graph.adamicAdarPairs(adj, col("cust"), col("supp"),
        maxDeg = 200, k = 100)
    }),

    // Degree assortativity of the bidirectional trade graph: do hub
    // customers trade with hub suppliers? Exact decimal moment sums.
    "q_assortativity" -> ((s, d) =>
      Graph.degreeAssortativity(tradeEdges(s, d), col("src"), col("dst"))),

    // Per-language classifier scorecard: stopword-profile langId vs the
    // gold lang label — cell-frame confusion stats, exact ppm P/R/F1
    // (gold 'zh' is outside the classifier inventory: n_pred = 0 row).
    "q_confusion" -> ((s, d) =>
      Ranking.confusionStats(t(s, d, "documents"),
        col("lang"), langId(col("text")))
        .orderBy(col("cls"))),

    // Cohen's kappa + multiclass MCC for the same langId-vs-gold frame:
    // chance-corrected agreement, exact integer ppm + one 6dp double.
    "q_kappa" -> ((s, d) =>
      Ranking.agreementStats(t(s, d, "documents"),
        col("lang"), langId(col("text")))),

    // Quadratic-weighted kappa: priority tier vs a fixed price band —
    // near-misses on the ordinal scale cost (i−j)², exact one-floor
    // integer form on the 5×5 grid.
    "q_kappa_w" -> ((s, d) =>
      Ranking.weightedKappa(t(s, d, "orders"),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        least(greatest(
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 5000000 + 1"), lit(1L)), lit(5L)))),

    // Fleiss' kappa: the 4 line-slots of each 4-line order as an
    // interchangeable rater panel over return status — exact rational
    // reduced form, off-size orders dropped and counted.
    "q_fleiss" -> ((s, d) =>
      Ranking.fleissKappa(t(s, d, "lineitem"), col("l_orderkey"),
        col("l_returnflag"), raters = 4)),

    // Krippendorff's alpha on the SAME panels but with every
    // 2..7-line order pairable — the missing-data-tolerant agreement
    // coefficient, 6dp per-unit terms, one closing floor.
    "q_kripp" -> ((s, d) =>
      Ranking.krippendorffAlpha(t(s, d, "lineitem"), col("l_orderkey"),
        col("l_returnflag"))),

    // Gwet's AC1 on the same 4-line panels: the kappa-paradox-stable
    // chance correction — report beside q_fleiss under skew.
    "q_gwet" -> ((s, d) =>
      Ranking.gwetAc1(t(s, d, "lineitem"), col("l_orderkey"),
        col("l_returnflag"), raters = 4)),

    // Average precision of "order value predicts urgency": one
    // prefix-sums pass carries rank + cumulative positives, fixed-point
    // precision@k summed exactly.
    "q_avg_precision" -> ((s, d) =>
      Analytics.averagePrecision(t(s, d, "orders"),
        (col("o_orderpriority") === "1-URGENT").cast("long"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        Seq(col("o_orderkey")))),

    // Linear-interpolation gap fill of per-user daily value cents:
    // exact floor of the straight line between present neighbors
    // (floordiv spelled pmod-style so negative slopes match DuckDB //).
    "q_interp" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(
          col("user_id"), datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Relational.gapFillInterp(daily, Seq("user_id"), "day", step = 1L,
        valueCol = "cents")
        .orderBy(col("user_id"), col("day"))
    }),

    // Mutual cosine k-NN graph over the vec_id < 300 block: edges kept
    // only when BOTH endpoints rank the other top-5 — the hub filter.
    "q_knn_graph" -> ((s, d) =>
      Similarity.mutualKnnGraph(
        t(s, d, "embeddings").where(col("vec_id") < 300),
        "vec_id", "embedding", k = 5)),

    // Signup → first purchase latency per converting user, exact
    // integer seconds — the activation-funnel readout.
    "q_ttc" -> ((s, d) =>
      Analytics.timeToConvert(t(s, d, "events"), col("user_id"), col("ts"),
        col("event_type") === "signup", col("event_type") === "purchase")
        .select(col("key").as("user_id"), col("from_us"), col("to_us"),
          col("delay_s"))),

    // SAX symbolization: each user's daily-cents series → 8-segment
    // 4-letter word — time-series tokenization for motif mining / LM
    // training, exact moments under one IEEE z-score shape.
    "q_sax" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.saxWords(daily, col("user_id"), Seq(col("day")),
        col("cents"), segments = 8)
        .select(col("key").as("user_id"), col("n"), col("sax"))
    }),

    // ViT patch plan over the stub-decoded image metadata: 64px tiles,
    // edge-clipped — the coordinate frame a patch-embed stage consumes.
    "q_patches" -> ((s, d) =>
      Multimodal.patchGrid(
        Multimodal.fakeDecodeMeta(
          Multimodal.attachBinary(t(s, d, "documents"), "text")),
        "doc_id", col("width"), col("height"), patch = 64)),

    // Window-function surface sweep: lead / nth_value / cume_dist over
    // the per-language (n_chars, doc_id) order — default frames on
    // both engines (ties broken, so RANGE == ROWS).
    "q_window_misc" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"),
        lead(col("n_chars"), 1).over(w).as("next_chars"),
        nth_value(col("n_chars"), 2).over(w).as("second_smallest"),
        round(cume_dist().over(w), 6).as("cd"))
    }),

    // NEAREST as-of: each purchase takes the click closest in time on
    // either side (ties to backward) — both fills ride one sorted pass.
    "q_asof_near" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("k"), usec(col("ts")).as("pt"),
          col("event_id").as("pid"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("k"), usec(col("ts")).as("ct"))
        .withColumn("click_us", col("ct"))
      Relational.asOfJoinNearest(purchases, clicks, "k", "pt", "ct",
        Seq("click_us"))
        .select(col("pid"), col("click_us"), col("asof_dist"))
    }),

    // Length-bucket padding audit (256-char buckets over documents):
    // the batch-shape waste readout behind LLM batching throughput.
    "q_length_buckets" -> ((s, d) =>
      TrainingData.lengthBuckets(t(s, d, "documents"), col("n_chars"),
        width = 256L)),

    // Per-language exact p50/p90 of document length — the grouped
    // quantile readout a global percentile hides.
    "q_group_quantiles" -> ((s, d) =>
      Analytics.groupedExactQuantiles(t(s, d, "documents"), col("lang"),
        col("n_chars"), Seq(0.5, 0.9))
        .select(col("group").as("lang"), col("p"), col("value"), col("n"))),

    // Cross-source trigram containment matrix — which feeds copy from
    // which: df-capped postings, smaller-set-normalized ppm.
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(t(s, d, "documents"), col("source"), col("text"),
        n = 3, maxDf = 1000)),

    // Tokenizer fertility per language: chars/subword and
    // subwords/word — the sequence-length cost a vocab change moves.
    "q_fertility" -> ((s, d) =>
      Ranking.tokenizerFertility(t(s, d, "documents"), col("lang"),
        col("text"))),

    // Burrows' Delta between sources: mean |z-gap| of top-50 word
    // rates on the dense grid — the stylometric "same generator?"
    // distance, exact ppm rates and n-cleared variances.
    "q_burrows" -> ((s, d) =>
      Ranking.burrowsDelta(t(s, d, "documents"), col("source"),
        col("text"), k = 50)),

    // Lexical diversity per source: type-token ratio + hapax share in
    // exact ppm — template/boilerplate feeds crater both.
    "q_ttr" -> ((s, d) =>
      Ranking.typeTokenRatio(t(s, d, "documents"), col("source"),
        col("text"))),

    // Zipf slope of the top-100 vocabulary: 6dp decimal log terms,
    // closed-form OLS — natural text reads near -1.
    "q_zipf" -> ((s, d) =>
      Ranking.zipfFit(t(s, d, "documents"), col("text"), k = 100)),

    // Chao1 unseen-vocabulary estimate + Good-Turing coverage off the
    // singleton/doubleton spectrum — the crawl stopping-rule pair.
    "q_chao1" -> ((s, d) =>
      Ranking.vocabRichness(t(s, d, "documents"), col("text"))),

    // Yule's K: length-stable corpus repetitiveness off the same
    // spectrum — exact (Σc²−N)·10⁷ div N² floor.
    "q_yule" -> ((s, d) =>
      Ranking.yuleK(t(s, d, "documents"), col("text"))),

    // Heaps'-law vocabulary growth V = K·T^beta over the doc-id walk:
    // first-occurrence vocab counts, ONE prefix-sums pass, 6dp OLS.
    "q_heaps" -> ((s, d) =>
      Ranking.heapsFit(t(s, d, "documents"), col("doc_id"), col("text"))),

    // Murphy decomposition + ECE of a deterministic ppm forecast
    // against returns: the calibration scorecard beside q_calibration.
    "q_brier" -> ((s, d) =>
      Analytics.brierDecomposition(t(s, d, "lineitem"),
        (col("l_partkey") % 1000L) * 1000L,
        (col("l_returnflag") === "R").cast("long"))),

    // Kaplan-Meier signup→purchase survival with right-censoring at
    // each user's last observed event: log-space exact cumprod over
    // the prefix-sum primitive, micro-nat fixed point.
    "q_survival" -> ((s, d) => {
      val ev = t(s, d, "events")
      val from = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(usec(col("ts"))).as("from_us"))
      val conv = Analytics.timeToConvert(ev, col("user_id"), col("ts"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .select(col("key").as("user_id"), col("delay_s"))
      val last = ev.groupBy(col("user_id")).agg(max(usec(col("ts"))).as("last_us"))
      val subjects = from.join(last, Seq("user_id"))
        .join(conv, Seq("user_id"), "left")
        .select(
          when(col("delay_s").isNotNull, col("delay_s"))
            .otherwise(expr("(last_us - from_us) div 1000000")).as("dur"),
          col("delay_s").isNotNull.cast("long").as("ev"))
      Analytics.kaplanMeier(subjects, col("dur"), col("ev"))
    }),

    // Restricted mean survival over the same subjects: area under KM
    // to a 30-day horizon — defined even where median survival isn't.
    "q_rmst" -> ((s, d) => {
      val ev = t(s, d, "events")
      val from = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(usec(col("ts"))).as("from_us"))
      val conv = Analytics.timeToConvert(ev, col("user_id"), col("ts"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .select(col("key").as("user_id"), col("delay_s"))
      val last = ev.groupBy(col("user_id")).agg(max(usec(col("ts"))).as("last_us"))
      val subjects = from.join(last, Seq("user_id"))
        .join(conv, Seq("user_id"), "left")
        .select(
          when(col("delay_s").isNotNull, col("delay_s"))
            .otherwise(expr("(last_us - from_us) div 1000000")).as("dur"),
          col("delay_s").isNotNull.cast("long").as("ev"))
      Analytics.rmst(subjects, col("dur"), col("ev"), tau = 2592000L)
    }),

    // Nelson-Aalen cumulative hazard over the SAME signup→purchase
    // subjects as q_survival — the additive estimator: exact ppm
    // floor increments d·10⁶ div n_risk, no transcendental anywhere.
    "q_survival_na" -> ((s, d) => {
      val ev = t(s, d, "events")
      val from = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(usec(col("ts"))).as("from_us"))
      val conv = Analytics.timeToConvert(ev, col("user_id"), col("ts"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .select(col("key").as("user_id"), col("delay_s"))
      val last = ev.groupBy(col("user_id")).agg(max(usec(col("ts"))).as("last_us"))
      val subjects = from.join(last, Seq("user_id"))
        .join(conv, Seq("user_id"), "left")
        .select(
          when(col("delay_s").isNotNull, col("delay_s"))
            .otherwise(expr("(last_us - from_us) div 1000000")).as("dur"),
          col("delay_s").isNotNull.cast("long").as("ev"))
      Analytics.nelsonAalen(subjects, col("dur"), col("ev"))
    }),

    // Log-rank test between even/odd-user arms over the SAME
    // signup→purchase subjects: exact ppm floor terms for E and V,
    // one integral div for the chi-square.
    "q_logrank" -> ((s, d) => {
      val ev = t(s, d, "events")
      val from = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(usec(col("ts"))).as("from_us"))
      val conv = Analytics.timeToConvert(ev, col("user_id"), col("ts"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .select(col("key").as("user_id"), col("delay_s"))
      val last = ev.groupBy(col("user_id")).agg(max(usec(col("ts"))).as("last_us"))
      val subjects = from.join(last, Seq("user_id"))
        .join(conv, Seq("user_id"), "left")
        .select(
          when(col("delay_s").isNotNull, col("delay_s"))
            .otherwise(expr("(last_us - from_us) div 1000000")).as("dur"),
          col("delay_s").isNotNull.cast("long").as("ev"),
          (col("user_id") % 2 === 0).as("arm_a"))
      Analytics.logRank(subjects, col("dur"), col("ev"), col("arm_a"))
    }),

    // Per-user behavioral surprise under the corpus bigram model:
    // 6dp decimal ln terms, exact sums, broadcast count frames.
    "q_seq_nll" -> ((s, d) =>
      Analytics.sequenceNll(t(s, d, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))
        .select(col("key").as("user_id"), col("n_steps"), col("nll"),
          col("avg_nll"))),

    // Rolling-origin backtest plan over event days: 30-day initial
    // train, 15-day horizons, 3 folds — summarized per (fold, role).
    "q_backtest" -> ((s, d) => {
      val ev = t(s, d, "events").select(
        datediff(col("ts").cast("date"), lit("1970-01-01"))
          .cast("long").as("day"),
        col("event_id"))
      TrainingData.rollingOrigin(ev, col("day"), trainWindow = 30L,
          horizon = 15L, folds = 3)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n"), min(col("day")).as("min_day"),
          max(col("day")).as("max_day"))
    }),

    // Weekday seasonality per event type: integer deviations from the
    // centered 7-observation MA (scaled by 7 — no early division).
    "q_seasonal" -> ((s, d) =>
      Analytics.weekdayDeviation(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"), period = 7)
        .select(col("group").as("event_type"), col("pos"), col("n"),
          col("sum_dev"), col("avg_dev"))),

    // Theil-Sen robust daily trend per event type: median of exact
    // integer-ppm pairwise slopes via the grouped-quantile primitive.
    // Cochran's Q over three paired binary conditions per user (did
    // they click / view / purchase) — McNemar generalized to k=3,
    // exact integer ppm.
    "q_cochran_q" -> ((s, d) =>
      Analytics.cochranQ(t(s, d, "events"), col("user_id"),
        Seq("click" -> (col("event_type") === "click"),
          "view" -> (col("event_type") === "view"),
          "purchase" -> (col("event_type") === "purchase")))),

    // Friedman test: per-user event-count ranks across the three
    // event types (complete blocks only, incomplete counted) — the
    // repeated-measures sibling of q_kruskal, exact doubled midranks.
    "q_friedman" -> ((s, d) =>
      Analytics.friedman(
        t(s, d, "events").where(
          col("event_type").isin("click", "view", "purchase")),
        col("user_id"), col("event_type"), lit(1L))),

    // Weekly top-10 spender turnover: consecutive-week Jaccard of the
    // leaderboard set, exact ppm — the heavy-hitter churn monitor.
    "q_topk_turnover" -> ((s, d) =>
      Analytics.topkTurnover(t(s, d, "events"),
        expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7"),
        col("user_id"), expr("CAST(round(value * 100) AS BIGINT)"), 10)),

    // CVaR / expected shortfall of event cents per type: the closed
    // p95 tail mean — what the worst 5% costs, not where it starts.
    "q_cvar" -> ((s, d) =>
      Analytics.cvar(t(s, d, "events"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"), p = 0.95)
        .select(col("group").as("event_type"), col("n"), col("var_value"),
          col("tail_n"), col("cvar_micros"))
        .orderBy(col("event_type"))),

    // Split-conformal 90% radius per event type over cents scores:
    // the (n+1)-corrected calibration quantile, null when n is too
    // small to certify the coverage.
    "q_conformal" -> ((s, d) =>
      Analytics.conformalQuantile(t(s, d, "events"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"), alphaPpm = 100000L)
        .select(col("group").as("event_type"), col("n"), col("m"),
          col("qhat"))
        .orderBy(col("event_type"))),

    // Quade: the same complete user blocks, range-weighted — blocks
    // where the counts actually differ carry the decision.
    "q_quade" -> ((s, d) =>
      Analytics.quade(
        t(s, d, "events").where(
          col("event_type").isin("click", "view", "purchase")),
        col("user_id"), col("event_type"), lit(1L))),

    // Kendall's W: do DAYS agree on the event-type volume ranking —
    // the χ²_F = m(k−1)·W identity emitted from one midrank plan.
    "q_kendall_w" -> ((s, d) =>
      Analytics.kendallW(
        t(s, d, "events").where(
          col("event_type").isin("click", "view", "purchase")),
        to_date(col("ts")), col("event_type"), lit(1L))),

    // Max-CUSUM change-point scan over the daily per-type cents
    // series: exact integer D_t = n·S_t − t·S_n, split at max |D_t|
    // (earliest day on ties), segment-mean shift as an exact rational.
    "q_changepoint" -> ((s, d) =>
      Analytics.changePoint(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("key").as("event_type"), col("n"), col("max_abs_d"),
          col("at_day"), col("shift_num"), col("shift_den"))
        .orderBy(col("event_type"))),

    // Cronbach's alpha over per-user event-type counts: is the
    // k-item engagement composite internally consistent — exact
    // n-cleared variances, one IEEE division, sparse zeros implicit.
    "q_cronbach" -> ((s, d) =>
      Ranking.cronbachAlpha(t(s, d, "events"), col("user_id"),
        col("event_type"), lit(1L))),

    // ICC(1,1) on complete 4-line order panels rating l_quantity:
    // one-way random-effects agreement, exact cleared ANOVA ratio.
    "q_icc" -> ((s, d) =>
      Ranking.iccOneWay(t(s, d, "lineitem"), col("l_orderkey"),
        col("l_quantity").cast("long"), raters = 4)),

    // Wald-Wolfowitz runs test around the per-type daily median:
    // lag-counted runs, exact integer moments, one IEEE z shape.
    "q_runs" -> ((s, d) =>
      Analytics.runsTest(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n1"), col("n2"),
          col("runs"), col("z"))
        .orderBy(col("event_type"))),

    // Pettitt rank-based change point over the same daily per-type
    // cents series: doubled-midrank prefix U_t, max |U| split
    // (earliest day on ties), exact-integer tail exponent in micros.
    "q_pettitt" -> ((s, d) =>
      Analytics.pettitt(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n"), col("k_abs"),
          col("at_day"), col("x_micros"), col("sig_95"))
        .orderBy(col("event_type"))),

    // Mann-Kendall monotone-trend test over the same daily per-type
    // cents series theilSen fits: exact S and tie-corrected 18·Var
    // integers, continuity-corrected z floored to micros.
    "q_mann_kendall" -> ((s, d) =>
      Analytics.mannKendall(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n"), col("s"),
          col("var18"), col("z_micros"))
        .orderBy(col("event_type"))),

    // Seasonal Mann-Kendall: the same daily per-type trend test with
    // month-of-year seasons — within-season S/Var summed, cycles
    // cancel instead of reading as trend.
    "q_seasonal_mk" -> ((s, d) =>
      Analytics.seasonalMannKendall(t(s, d, "events"), col("event_type"),
        month(col("ts")),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n_seasons"), col("n"),
          col("s"), col("var18"), col("z_micros"))
        .orderBy(col("event_type"))),

    // Hodges-Lehmann pseudo-median of the daily per-type cents —
    // median of Walsh averages over the theilSen pairwise envelope,
    // exact via DOUBLED sums (hl_x2 = 2·HL).
    "q_hodges" -> ((s, d) =>
      Analytics.hodgesLehmann(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n_pairs"), col("hl_x2"))
        .orderBy(col("event_type"))),

    // Isotonic (PAV) fit of daily event counts per type — the
    // monotone calibration primitive; fitted values as exact ppm
    // floors of block means, hash-matched against the minimax-form
    // oracle (floor commutes with max/min).
    "q_isotonic" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.isotonicFit(daily, col("event_type"), col("day"), col("cnt"))
        .select(col("group").as("event_type"), col("x").as("day"),
          col("y").as("cnt"), col("n"), col("fitted_ppm"))
    }),

    // Siegel repeated-median slope over the same daily series — the
    // 50%-breakdown big sibling of q_theilsen; same exact ppm slopes,
    // two stacked grouped-CDF medians.
    "q_siegel" -> ((s, d) =>
      Analytics.siegelSlope(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n_days"),
          col("slope_ppm"))
        .orderBy(col("event_type"))),

    "q_theilsen" -> ((s, d) =>
      Analytics.theilSen(t(s, d, "events"), col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .select(col("group").as("event_type"), col("n_pairs"),
          col("slope_ppm"))
        .orderBy(col("event_type"))),

    // OOV rate per doc after a min-count-5 vocabulary cut — what a
    // trained tokenizer would shred into bytes.
    "q_oov" -> ((s, d) =>
      TrainingData.oovRate(t(s, d, "documents"), col("doc_id"),
        col("text"), minCount = 5L)),

    // Content-defined chunk boundaries (8-char rolling window,
    // divisor 64): edit-stable chunking stats per document.
    "q_cdc_chunks" -> ((s, d) =>
      TrainingData.cdcChunkStats(t(s, d, "documents"), col("doc_id"),
        col("text"), window = 8, divisor = 64)),

    // Vocabulary coverage curve over the documents corpus: smallest
    // frequency-ranked vocab covering 50/90/99% of tokens.
    "q_coverage" -> ((s, d) =>
      Ranking.coverageCurve(t(s, d, "documents"), col("text"),
        Seq(0.5, 0.9, 0.99))),

    // Sample-ratio-mismatch gate on the q_abtest parity arms: exact
    // ppm chi-square with pre-compared significance fences.
    "q_srm" -> ((s, d) =>
      Analytics.srmCheck(t(s, d, "events"), col("user_id") % 2L)),

    // 30-day-period churn matrix over events: retained vs vanished
    // users per period, exact ppm.
    "q_churn" -> ((s, d) =>
      Analytics.churnMatrix(t(s, d, "events"), col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) div 30"))),

    // Cross-document duplicate CHUNKS under content-defined cutting —
    // the chunk-hash dedup payoff: pasted paragraphs share hashes at
    // any offset. Shuffle carries (md5, doc) pairs only.
    "q_chunk_dedup" -> ((s, d) =>
      TrainingData.chunkDedupSummary(t(s, d, "documents"), col("doc_id"),
        col("text"), window = 8, divisor = 64)),

    // Per-returnflag exact median + MAD of price cents — the robust
    // location/scale pair beside q_feature_scale's min-max/z.
    "q_robust_scale" -> ((s, d) =>
      Analytics.robustStats(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .select(col("group").as("l_returnflag"), col("n"), col("median"),
          col("mad"))),

    // Multi-touch linear attribution over a 7-day lookback: exact ppm
    // credit with the floor remainder reported, never smeared.
    "q_attr_linear" -> ((s, d) =>
      Analytics.linearAttribution(t(s, d, "events"), col("user_id"),
        col("event_id"), col("ts"),
        col("event_type") === "purchase", col("event_type") === "click",
        windowUs = 7L * 24 * 3600 * 1000000L)),

    // Per-returnflag winsorized mean of price cents at the group's own
    // exact p05/p95 fences.
    "q_winsor_group" -> ((s, d) =>
      Analytics.groupedWinsorizedMean(t(s, d, "lineitem"),
        col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .select(col("group").as("l_returnflag"), col("n"), col("lo"),
          col("hi"), col("winsorized_mean"))),

    // 5%-a-side TRIMMED mean of the same cents — tails deleted, not
    // clamped; exact interval-overlap sums on the per-group CDF.
    "q_trimmed_mean" -> ((s, d) =>
      Analytics.groupedTrimmedMean(t(s, d, "lineitem"),
        col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .select(col("group").as("l_returnflag"), col("n"), col("n_trimmed"),
          col("trimmed_mean"))),

    // Decile gains: does event value rank-predict the purchase flag —
    // pro-rata tie sharing, exact ppm lift, no global window.
    "q_lift" -> ((s, d) =>
      Analytics.liftTable(t(s, d, "events"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"),
        (col("event_type") === "purchase").cast("int"))
        .orderBy(col("bucket"))),

    // k-anonymity release gate on (nation, market segment): classes
    // below k=5 and the exact rows-at-risk share.
    "q_kanon" -> ((s, d) =>
      Quality.kAnonymity(t(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")), k = 5L)),

    // Quantile-normalize document lengths per source onto the global
    // length distribution — cross-feed score calibration by rank.
    "q_qnorm" -> ((s, d) =>
      Analytics.quantileNormalize(t(s, d, "documents"), col("source"),
        col("n_chars"))
        .select(col("group").as("source"), col("value"), col("rank_ppm"),
          col("normalized"))),

    // t-closeness on (nation, segment) with the $2000 balance bucket
    // as the ordered sensitive attribute: exact integer EMD between
    // each class's bucket distribution and the global one, threshold
    // t = 0.2 (200000 ppm) — completes the k-anon / l-div / t-close
    // release-gate ladder.
    "q_tcloseness" -> ((s, d) =>
      Quality.tCloseness(t(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " + 100000) div 200000"),
        tPpm = 200000L)),

    // l-diversity on (nation, segment) with account balance sign as
    // the sensitive value — large-but-uniform classes still leak.
    "q_ldiv" -> ((s, d) =>
      Quality.lDiversity(t(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        (col("c_acctbal") >= 0).cast("int"), l = 2L)),

    // Near-dup cluster SIZE histogram over the q_dedup_cc components —
    // the dedup-tuning readout (are we merging pairs or empires?).
    "q_dup_sizes" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", shingleSize = 2, threshold = 0.2, maxDocFreq = 100)
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id", pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // Embedding norm histogram (quarter-unit buckets of cents-rounded
    // L2 norms) — collapsed or exploded vectors show as spikes.
    "q_embed_norms" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(expr(
          "CAST(round(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 100) " +
            "AS BIGINT) div 25").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))),

    // Edge-weighted PageRank over the trade graph, weights = distinct
    // orders per pair: scatter proportional to trade volume, 2
    // bit-exact scaled-integer supersteps.
    "q_pagerank_w" -> ((s, d) => {
      val triple = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2L).as("c"),
          (col("l_suppkey") * 2L + 1L).as("p"), col("o_orderkey").as("ok"))
        .distinct()
      val pw = triple.groupBy(col("c"), col("p")).agg(count(lit(1)).as("w"))
      val ew = pw.select(col("c").as("src"), col("p").as("dst"), col("w"))
        .unionAll(pw.select(col("p").as("src"), col("c").as("dst"), col("w")))
      Graph.pageRankWeighted(ew, "src", "dst", "w", iters = 2)
        .select(decodeTradeNode(col("node")).as("node"), col("score"))
    }),

    // Next-word conditional entropy + perplexity of the corpus bigram
    // stream — the one-number text-diversity readout.
    "q_bigram_entropy" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .select(explode(wordShingles(col("text"), 2)).as("_sh"))
        .where(col("_sh").contains(" "))
      Analytics.conditionalEntropy(sh,
        substring_index(col("_sh"), " ", 1),
        substring_index(col("_sh"), " ", -1))
    }),

    // Experiment sizing per event type: exact-moment sigma and the
    // 80%-power / alpha-.05 minimum detectable effect in value cents.
    "q_mde" -> ((s, d) =>
      Analytics.minDetectableEffect(t(s, d, "events"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Simpson lexical concentration per source: exact-rational ppm
    // probability two random tokens coincide — templated feeds spike.
    "q_simpson" -> ((s, d) =>
      Ranking.simpsonIndex(t(s, d, "documents"), col("source"),
        col("text"))),

    // DAU/MAU stickiness per 30-day period over events — the habit
    // metric, exact integer ppm.
    "q_stickiness" -> ((s, d) =>
      Analytics.stickiness(t(s, d, "events"), col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01")),
        ticksPerPeriod = 30L)),

    // CCF: does daily click volume LEAD purchase volume? x_t vs
    // y_{t−lag} on a tick-arithmetic hash join — no window, no sort;
    // exact decimal moments per lag.
    "q_ccf" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(
          sum(when(col("event_type") === "click",
            expr("CAST(round(value * 100) AS BIGINT)"))).as("x"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(round(value * 100) AS BIGINT)"))).as("y"))
      Analytics.crossCorr(daily, col("day"), col("x"), col("y"),
        Seq(-7, -1, 0, 1, 7))
    }),

    // ACF profile at lags {1,2,3,7} of per-type daily cents — the
    // memory/seasonality fingerprint in one frame.
    "q_acf" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .transform(CacheRegistry.checkpoint(_))
      Seq(1, 2, 3, 7).map { k =>
        Analytics.lagAutocorrExact(daily, col("event_type"), Seq(col("day")),
            col("cents"), k = k)
          .select(lit(k).as("lag"), col("key").as("event_type"),
            col("n_pairs"), col("r"))
      }.reduce(_ unionByName _)
    }),

    // Hurst exponent of the per-type daily series: R/S scaling over
    // block sizes 8..64 — exact integer block ranges, 6dp decimal
    // block ratios, fixed-constant ln-ln slope.
    "q_hurst" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.hurstExponent(daily, col("event_type"), Seq(col("day")),
          col("cents"))
        .withColumnRenamed("key", "event_type")
    }),

    // Gumbel fit on weekly maxima of the same daily series: the
    // worst-day-in-a-typical-year return level — exact integer
    // block maxima/moments, embedded-constant fit.
    "q_gumbel" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.gumbelFit(daily, col("event_type"), col("day"),
          col("cents"), period = 7L, returnPeriod = 52L)
        .withColumnRenamed("key", "event_type")
    }),

    // Allan variance profile of the same daily series: the noise
    // floor per averaging horizon — exact integer block-sum deltas,
    // one division per (key, m).
    "q_allan" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.allanVariance(daily, col("event_type"), Seq(col("day")),
          col("cents"))
        .withColumnRenamed("key", "event_type")
    }),

    // PACF at lags 1..3 over the same daily series: Durbin-Levinson
    // unrolled on exact integer autocovariances — the AR-order
    // readout beside q_ljung_box's raw rho profile.
    "q_pacf" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.pacf(daily, col("event_type"), Seq(col("day")),
          col("cents"))
        .withColumnRenamed("key", "event_type")
    }),

    // Ljung-Box portmanteau over the same daily series: one window
    // pass carries all four lags; exact decimal moment sums, doubles
    // only in the fixed-shape Q expression.
    "q_ljung_box" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.ljungBox(daily, col("event_type"), Seq(col("day")),
          col("cents"), Seq(1, 2, 3, 7))
        .withColumnRenamed("key", "event_type")
    }),

    // Durbin-Watson lag-1 serial correlation of the daily series —
    // the multiplied-out demeaning clears the mean exactly.
    "q_durbin_watson" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.durbinWatson(daily, col("event_type"), Seq(col("day")),
          col("cents"))
        .withColumnRenamed("key", "event_type")
    }),

    // Likelihood-ratio G-test on the status x priority grid: observed
    // cells only, margins broadcast, one ln per cell over exact int64
    // ratios.
    "q_gtest" -> ((s, d) =>
      Analytics.gTest(t(s, d, "orders"),
        col("o_orderstatus"), col("o_orderpriority"))),

    // Threshold sweep over exact candidate jaccard (ppm cut — no float
    // boundary): the dedup-tuning curve from ONE verification pass.
    "q_jaccard_sweep" -> ((s, d) =>
      Dedup.jaccardSweep(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 2, maxDocFreq = 100)),

    // Exact Mann-Whitney U (doubled-integer form) + rank-biserial:
    // the nonparametric "do returned items cost more" test.
    "q_mannwhitney" -> ((s, d) =>
      Analytics.mannWhitney(t(s, d, "lineitem"),
        (col("l_returnflag") === "R").cast("long"), col("l_extendedprice"))),

    // McNemar's paired flip test: did the SAME users click in the
    // back half of January but not the front — exact ppm integers.
    "q_mcnemar" -> ((s, d) =>
      Analytics.mcnemar(t(s, d, "events"), col("user_id"),
        col("event_type") === "click" &&
          col("ts") < to_timestamp(lit("2024-01-16 00:00:00")),
        col("event_type") === "click" &&
          col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")))),

    // Monroe log-odds "fightin' words": which terms mark en against
    // es, Dirichlet-shrunk, per-term IEEE z, top-100 TakeOrdered.
    "q_logodds" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(lang: String) = docs.where(col("lang") === lang)
        .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
      Ranking.logOddsTerms(toks("en"), toks("es"), col("w"), a0 = 100.0, k = 100)
    }),

    // 2x2 difference-in-differences: odd users "treated", the back
    // half of January "post" — exact cell sums, one IEEE shape.
    "q_did" -> ((s, d) =>
      Analytics.diffInDiff(t(s, d, "events").where(col("value").isNotNull),
        (col("user_id") % 2L === 1L).cast("long"),
        (col("ts") >= to_timestamp(lit("2024-01-16 00:00:00"))).cast("long"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // One-way ANOVA F across the five order priorities: the k-arm
    // mean screen; exact decimal moments, 6dp per-group terms.
    "q_anova" -> ((s, d) =>
      Analytics.anovaF(t(s, d, "orders"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Kruskal-Wallis H over the same arms: rank-based k-arm test on
    // exact doubled midranks + tie correction, no global sort.
    "q_kruskal" -> ((s, d) =>
      Analytics.kruskalWallis(t(s, d, "orders"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Dunn's post-hoc on the same arms: WHICH priority pairs differ,
    // pooled tie-corrected mean-rank z per pair, rounded-fence flags.
    "q_dunn" -> ((s, d) =>
      Analytics.dunnTest(t(s, d, "orders"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Mood's median test over the same arms: split every order at the
    // pooled median price and chi-square the 2×k straddle table —
    // the monotone-transform-immune sibling of q_kruskal.
    "q_mood" -> ((s, d) =>
      Analytics.moodMedian(t(s, d, "orders"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))),

    // Jonckheere-Terpstra: does order VALUE rise monotonically with
    // the priority tier (1-URGENT..5-LOW)? Bounded cell grid: 5 tiers
    // × ~$10k price buckets, exact doubled pair counts.
    "q_jt" -> ((s, d) =>
      Analytics.jonckheereTerpstra(t(s, d, "orders"),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " div 1000000"))),

    // Page's L over the q_friedman blocks with the funnel order
    // view < click < purchase hypothesized: do per-user event counts
    // rise along the funnel? Doubled midranks, complete blocks only.
    "q_page" -> ((s, d) =>
      Analytics.pageTrend(
        t(s, d, "events").where(
          col("event_type").isin("click", "view", "purchase")),
        col("user_id"),
        when(col("event_type") === "view", 1L)
          .when(col("event_type") === "click", 2L).otherwise(3L),
        lit(1L))),

    // Jensen-Shannon divergence between the en and es corpora's word
    // distributions — the symmetric corpus-distance mixing readout.
    "q_js_div" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(lang: String) = docs.where(col("lang") === lang)
        .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
      graft.operators.Quality.jsDivergence(toks("en"), toks("es"), col("w"))
    }),

    // Benjamini-Hochberg FDR over a deterministic md5-derived p-value
    // per customer: exact integer reject frontier, range-ranked.
    "q_bh_fdr" -> ((s, d) =>
      Analytics.bhFdr(
        t(s, d, "customer").select(col("c_custkey"),
          (expr("CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT)")
            % 1000000L).as("p_micros")),
        col("c_custkey"), col("p_micros"), qPpm = 50000L)
        .select(col("id").as("c_custkey"), col("p_micros"), col("rank"),
          col("rejected"))
        .orderBy(col("rank"))),

    // Bowker symmetry over each user's first-vs-last event type:
    // directional drift of the k-category margins, exact ppm terms.
    "q_bowker" -> ((s, d) =>
      Analytics.bowker(t(s, d, "events"), col("user_id"),
        col("event_type"), Seq(col("ts"), col("event_id")))),

    // Holm-Bonferroni FWER step-down over the same md5-derived
    // p-values: exact integer per-rank fences, min-failing-rank stop.
    "q_holm" -> ((s, d) =>
      Analytics.holmBonferroni(
        t(s, d, "customer").select(col("c_custkey"),
          (expr("CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT)")
            % 1000000L).as("p_micros")),
        col("c_custkey"), col("p_micros"), alphaMicros = 50000L)
        .select(col("id").as("c_custkey"), col("p_micros"), col("rank"),
          col("rejected"))
        .orderBy(col("rank"))),

    // Holt-Winters additive (weekly season) over per-type daily cents:
    // the fold engine with O(7) state, bit-exact vs a 9-state-column
    // recursive-CTE oracle.
    "q_holt_winters" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .withColumn("tcode", expr(
          "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 " +
            "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 " +
            "WHEN 'view' THEN 4 ELSE 5 END"))
      Analytics.holtWinters(daily, col("tcode"), Seq(col("day")),
          col("day"), col("cents").cast("double"), pmod(col("day"), lit(7)),
          period = 7, alpha = 0.5, beta = 0.25, gamma = 0.5)
        .select(col("key").as("tcode"), col("id").as("day"), col("level"),
          col("trend"), col("seasonal"))
    }),

    // Tukey IQR fences per returnflag at the exact integer 1.5x rule:
    // the outlier-casualty count beside q_robust_scale.
    "q_iqr" -> ((s, d) =>
      Analytics.iqrOutliers(t(s, d, "lineitem"), col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .select(col("group").as("l_returnflag"), col("n"), col("q1"),
          col("q3"), col("lo_fence"), col("hi_fence"), col("n_low"),
          col("n_high"))),

    // Paired Wilcoxon: does click out-spend view on the same day?
    // Day-matched daily-cents differences, exact doubled-W midranks.
    "q_wilcoxon" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val a = daily.where(col("event_type") === "click")
        .select(col("day"), col("cents").as("ca"))
      val b = daily.where(col("event_type") === "view")
        .select(col("day"), col("cents").as("cb"))
      Analytics.wilcoxonSignedRank(a.join(b, Seq("day")),
        col("ca") - col("cb"))
    }),

    // Partial correlation: click↔purchase with view (overall
    // traffic) held fixed — nine exact moments, closed form.
    "q_partial_corr" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      def leg(et: String, n: String) = daily.where(col("event_type") === et)
        .select(col("day"), col("cents").as(n))
      Analytics.partialCorr(
        leg("click", "cx").join(leg("purchase", "cy"), Seq("day"))
          .join(leg("view", "cz"), Seq("day")),
        col("cx"), col("cy"), col("cz"))
    }),

    // Deming orthogonal fit over the same day-matched pair: the
    // dilution-free symmetric line completing the comparison trio.
    "q_deming" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val a = daily.where(col("event_type") === "click")
        .select(col("day"), col("cents").as("ca"))
      val b = daily.where(col("event_type") === "view")
        .select(col("day"), col("cents").as("cb"))
      Analytics.demingFit(a.join(b, Seq("day")), col("ca"), col("cb"))
    }),

    // Bland-Altman over the same day-matched pair: systematic bias +
    // 95% limits of agreement + how many days actually fall outside.
    "q_bland_altman" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val a = daily.where(col("event_type") === "click")
        .select(col("day"), col("cents").as("ca"))
      val b = daily.where(col("event_type") === "view")
        .select(col("day"), col("cents").as("cb"))
      Analytics.blandAltman(a.join(b, Seq("day")), col("ca"), col("cb"))
    }),

    // Lin's CCC over the same day-matched pair: does click volume
    // REPRODUCE view volume (y = x), not merely track it — exact
    // integer S-moments, one division, Pearson r beside.
    "q_ccc" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val a = daily.where(col("event_type") === "click")
        .select(col("day"), col("cents").as("ca"))
      val b = daily.where(col("event_type") === "view")
        .select(col("day"), col("cents").as("cb"))
      Analytics.concordanceCcc(a.join(b, Seq("day")), col("ca"), col("cb"))
    }),

    // Record census of the per-type daily series: how often does a
    // day still set the all-time high — strict records, one bounded
    // per-key window.
    "q_records" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Analytics.runningRecords(daily, col("event_type"), col("day"),
          col("cents"))
        .withColumnRenamed("key", "event_type")
    }),

    // Spearman rho between day-matched click and view daily cents —
    // Pearson on exact doubled midranks.
    "q_spearman" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val a = daily.where(col("event_type") === "click")
        .select(col("day"), col("cents").as("ca"))
      val b = daily.where(col("event_type") === "view")
        .select(col("day"), col("cents").as("cb"))
      Analytics.spearman(a.join(b, Seq("day")), col("ca"), col("cb"))
    }))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_multi")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- //
  // DuckDB oracles — column names/aliases MUST match the Spark side.  //
  // ---------------------------------------------------------------- //

  def oracleSql: Map[String, String] = Map(
    "q_agg" ->
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |count(*) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |epoch_us(l_shipdate) AS ship_us FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity >= 45""".stripMargin,

    "q_words_count" ->
      s"""SELECT word, count(*) AS n FROM
         |(SELECT unnest($W) AS word FROM documents) GROUP BY word""".stripMargin,

    "q_mix" ->
      """SELECT event_type, count(*) AS n FROM (
        |SELECT event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_type FROM events WHERE event_type = 'purchase'
        |) GROUP BY event_type""".stripMargin,

    "q_split" ->
      """SELECT count(*) AS n, 'urgent' AS branch FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |UNION ALL
        |SELECT count(*) AS n, 'rest' AS branch FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')""".stripMargin,

    "q_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        |SELECT o_orderpriority, o_orderkey, o_totalprice,
        |CAST(row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |FROM orders) WHERE rank <= 5""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |count(*) AS n, TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin,

    "q_kmv_intersect" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  count(*) AS exact_common, TRUE AS approx_ok
        |FROM du x JOIN du y
        |  ON x.user_id = y.user_id AND x.event_type < y.event_type
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors distinctRollup's level set with GROUP BY ROLLUP; depth
    // is recoverable from the null pattern because event_type/day are
    // never null in the data.
    "q_hll_rollup" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT event_type, day,
        |  CASE WHEN day IS NOT NULL THEN 2
        |       WHEN event_type IS NOT NULL THEN 1 ELSE 0 END AS depth,
        |  count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM e GROUP BY ROLLUP (event_type, day)""".stripMargin,

    "q_bcast_join" ->
      """SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin,

    "q_join_multi" ->
      """SELECT r_name, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_percentile" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |quantile_cont(value, 0.95) AS p95, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q_cube" ->
      """SELECT event_type, user_id % 4 AS bucket, count(*) AS n, min(value) AS min_v
        |FROM events GROUP BY CUBE(event_type, user_id % 4)""".stripMargin,

    "q_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS ts_us,
        |count(*) OVER w AS n_1h,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us,
        |count(*) OVER w AS run_n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend
        |FROM orders WINDOW w AS (PARTITION BY o_custkey
        |ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix,
        |CAST(length(c_name) AS INTEGER) AS len,
        |concat_ws('|', c_mktsegment, c_name) AS tagged,
        |lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |reverse(c_name) AS rev FROM customer""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
        |CAST(month(o_orderdate) AS INTEGER) AS m,
        |CAST(day(o_orderdate) AS INTEGER) AS dd,
        |epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        |CAST(date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS INTEGER) AS days_since
        |FROM orders""".stripMargin,

    "q_tumble_count" ->
      """SELECT window_id, count(*) AS n, min(value) AS min_v, max(value) AS max_v,
        |min(event_id) AS first_id FROM (
        |SELECT *, CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 500) AS BIGINT) AS window_id
        |FROM events) GROUP BY window_id""".stripMargin,

    "q_slide" ->
      """SELECT event_id, user_id,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / count(*) OVER w AS sliding_avg
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_time_window" ->
      """SELECT epoch_us(date_trunc('day', ts::TIMESTAMP)) AS day_us, count(*) AS n,
        |min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1""".stripMargin,

    "q_zip" ->
      """SELECT n_name, r_name FROM
        |(SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation) a
        |JOIN
        |(SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region) b
        |USING (rn)""".stripMargin,

    "q_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, p.user_id, epoch_us(p.ts::TIMESTAMP) AS purchase_us,
        |  c.click_value,
        |  row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC) AS rn
        |  FROM p LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT event_id, user_id, purchase_us, click_value FROM j WHERE rn = 1""".stripMargin,

    "q_expect" ->
      """WITH r AS (
        |SELECT 'not_null(l_orderkey)' AS "check",
        |  CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations
        |FROM lineitem
        |UNION ALL SELECT 'in_range(l_quantity)',
        |  count(CASE WHEN l_quantity < 1 OR l_quantity > 10 THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'accepted(l_returnflag)',
        |  count(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL
        |    THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'satisfies(positive_price)',
        |  count(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 END)
        |FROM lineitem
        |UNION ALL SELECT 'row_count[1,1000000000]',
        |  CAST(CASE WHEN count(*) BETWEEN 1 AND 1000000000 THEN 0 ELSE 1 END AS BIGINT)
        |FROM lineitem
        |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
        |  (SELECT count(*) FROM (SELECT 1 AS x FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
        |UNION ALL SELECT 'unique(l_returnflag)',
        |  (SELECT count(*) FROM (SELECT 1 AS x FROM lineitem
        |    GROUP BY l_returnflag HAVING count(*) > 1))
        |) SELECT "check", violations, violations = 0 AS pass FROM r""".stripMargin,

    // same normalized-md5 fingerprints, full-outer joined
    "q_snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, md5($NormalizedText) AS fp
         |  FROM documents WHERE doc_id % 7 <> 0),
         |v2src AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 0),
         |v2 AS (SELECT doc_id, md5($NormalizedText) AS fp FROM v2src)
         |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         |  CASE WHEN v1.fp IS NULL THEN 'added'
         |       WHEN v2.fp IS NULL THEN 'removed'
         |       WHEN v1.fp = v2.fp THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin,

    "q_ntile" ->
      """SELECT event_id, event_type,
        |CAST(ntile(10) OVER (PARTITION BY event_type
        |  ORDER BY value ASC NULLS LAST, event_id) AS INTEGER) AS decile
        |FROM events""".stripMargin,

    "q_mad" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.med, md.mad,
        |  abs(d.value - d.med) > 3.0 * 1.4826 * md.mad AS is_outlier
        |FROM d JOIN md USING (event_type)""".stripMargin,

    "q_interval_join" ->
      """WITH v AS (SELECT event_id AS v_id, user_id, epoch_us(ts::TIMESTAMP) AS lo,
        |  epoch_us(ts::TIMESTAMP) + 3600000000 AS hi FROM events
        |  WHERE event_type = 'view'),
        |c AS (SELECT event_id AS c_id, user_id, epoch_us(ts::TIMESTAMP) AS lo2,
        |  epoch_us(ts::TIMESTAMP) + 1800000000 AS hi2 FROM events
        |  WHERE event_type = 'click')
        |SELECT v_id, c_id FROM v JOIN c USING (user_id)
        |WHERE lo <= hi2 AND lo2 <= hi""".stripMargin,

    "q_asof_fwd" ->
      """WITH purchases AS (
        |  SELECT user_id, ts, max(value) AS purchase_value FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |j AS (SELECT s.event_id, s.user_id, epoch_us(s.ts::TIMESTAMP) AS signup_us,
        |  p.purchase_value,
        |  row_number() OVER (PARTITION BY s.event_id ORDER BY p.ts ASC) AS rn
        |  FROM s LEFT JOIN purchases p ON s.user_id = p.user_id AND p.ts >= s.ts)
        |SELECT event_id, user_id, signup_us, purchase_value FROM j WHERE rn = 1""".stripMargin,

    "q_session" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR
        |    epoch_us(ts::TIMESTAMP) // 1000000 - epoch_us(prev_ts::TIMESTAMP) // 1000000 > 3600
        |    THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM l)
        |SELECT user_id, session_id, count(*) AS n,
        |min(epoch_us(ts::TIMESTAMP)) AS start_us, max(epoch_us(ts::TIMESTAMP)) AS end_us
        |FROM f GROUP BY user_id, session_id""".stripMargin,

    "q_sla" ->
      """WITH shipped AS (
        |  SELECT l_orderkey AS o_orderkey, count(*) AS n_shipped,
        |  list_sort(list(l_shipdate)) AS sts FROM lineitem
        |  WHERE l_shipdate IS NOT NULL GROUP BY 1)
        |SELECT o_orderkey, n_shipped,
        |CASE WHEN n_shipped >= (o_orderkey % 5 + 1)
        |       AND sts[o_orderkey % 5 + 1] <= o_orderdate + INTERVAL 7 DAY
        |     THEN 'ALL_PARCELS_SHIPPED'
        |     WHEN sts[CAST(n_shipped AS INTEGER)] > o_orderdate + INTERVAL 7 DAY
        |     THEN 'THRESHOLD_EXCEEDED'
        |     ELSE 'PENDING' END AS status
        |FROM orders LEFT JOIN shipped USING (o_orderkey)""".stripMargin,

    "q_range_join" ->
      """SELECT p.event_id, p.user_id AS b_user,
        |epoch_us(p.ts::TIMESTAMP) AS b_us, epoch_us(c.ts::TIMESTAMP) AS c_us
        |FROM events p JOIN events c
        |ON p.event_type = 'purchase' AND c.event_type = 'click'
        |AND p.user_id = c.user_id
        |AND epoch_us(p.ts::TIMESTAMP)
        |  BETWEEN epoch_us(c.ts::TIMESTAMP) AND epoch_us(c.ts::TIMESTAMP) + 1800000000""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
        |UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))""".stripMargin,

    "q_dedup_exact" ->
      "SELECT DISTINCT doc_id, text, lang, source, n_chars FROM documents",

    "q_dedup_fp" ->
      s"""SELECT md5($NormalizedText) AS fp, min(doc_id) AS keep_id,
         |count(*) AS n_dups FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |verified AS (SELECT id_a, id_b,
         |  len(list_intersect(da.sh, db.sh))::DOUBLE /
         |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id)
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM verified WHERE j >= 0.2""".stripMargin,

    "q_dedup_cc" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |edges AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |  len(list_intersect(da.sh, db.sh))::DOUBLE /
         |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id) WHERE j >= 0.2),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS node FROM documents
         |  UNION
         |  SELECT r.src, CASE WHEN e.id_a = r.node THEN e.id_b ELSE e.id_a END
         |  FROM reach r JOIN edges e ON r.node = e.id_a OR r.node = e.id_b)
         |SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src""".stripMargin,

    "q_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($W) AS term FROM documents) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl)
         |SELECT doc_id, term, tf,
         |  round(tf * ln(n::DOUBLE / df), 4) AS tfidf,
         |  round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
         |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
         |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats""".stripMargin,

    // same bm25 weights, exact decimal sum, double surface
    "q_bm25_search" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($W) AS term FROM documents) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |scored AS (SELECT doc_id, term,
         |  round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
         |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
         |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats)
         |SELECT doc_id,
         |  CAST(SUM(CAST(bm25 AS DECIMAL(18,4))) AS DOUBLE) AS score,
         |  count(*) AS n_terms
         |FROM scored WHERE term IN ('spark', 'window', 'join')
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // rank on the same rounded tf-idf, term tiebreak
    // q_textrank: same bigram window, length/self filters, canonical
    // pair dedup, and 10⁹-scale integer pagerank unroll as the Spark
    // composition (the q_pagerank oracle pattern on the word graph).
    "q_textrank" ->
      s"""WITH dw AS (SELECT $W AS ws FROM documents),
         |bg AS (SELECT unnest(list_transform(
         |    generate_series(1, len(ws) - 1),
         |    i -> [ws[i], ws[i + 1]])) AS pr
         |  FROM dw WHERE len(ws) >= 2),
         |flt AS (SELECT pr[1] AS a, pr[2] AS b FROM bg
         |  WHERE len(pr[1]) >= 3 AND len(pr[2]) >= 3 AND pr[1] != pr[2]),
         |und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
         |  FROM flt),
         |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
         |  UNION ALL SELECT v AS src, u AS dst FROM und),
         |verts AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM edges UNION ALL
         |   SELECT dst AS node FROM edges)),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score FROM verts),
         |inf1 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
         |  FROM edges e JOIN it0 sc ON e.src = sc.node
         |  JOIN outdeg od ON e.src = od.src GROUP BY e.dst),
         |it1 AS (SELECT v.node,
         |    150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
         |  FROM verts v LEFT JOIN inf1 i ON v.node = i.dst),
         |inf2 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
         |  FROM edges e JOIN it1 sc ON e.src = sc.node
         |  JOIN outdeg od ON e.src = od.src GROUP BY e.dst),
         |it2 AS (SELECT v.node,
         |    150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
         |  FROM verts v LEFT JOIN inf2 i ON v.node = i.dst),
         |inf3 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
         |  FROM edges e JOIN it2 sc ON e.src = sc.node
         |  JOIN outdeg od ON e.src = od.src GROUP BY e.dst),
         |it3 AS (SELECT v.node,
         |    150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
         |  FROM verts v LEFT JOIN inf3 i ON v.node = i.dst)
         |SELECT node AS word, CAST(score AS BIGINT) AS score FROM it3
         |ORDER BY score DESC, word LIMIT 30""".stripMargin,

    "q_keywords" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($W) AS term FROM documents) GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         |scored AS (SELECT doc_id, term,
         |  round(tf * ln(n::DOUBLE / df), 4) AS tfidf
         |  FROM tf JOIN dfreq USING (term), stats),
         |r AS (SELECT doc_id, term, tfidf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, term, tfidf FROM r WHERE rn <= 5""".stripMargin,

    "q_approx_quantile" ->
      """SELECT event_type, count(*) AS n, TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin,

    "q_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5('graft:' || doc_id), 1, 8) <
        |  CASE WHEN lang = 'en' THEN '80000000'
        |       WHEN lang = 'es' THEN '40000000'
        |       ELSE 'g' END""".stripMargin,

    "q_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS min_cnt FROM c),
        |f AS (SELECT lang, sqrt(CAST(min_cnt AS DOUBLE) / cnt) AS frac FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN f USING (lang)
        |WHERE substr(md5('graft:' || d.doc_id), 1, 8) <
        |  CASE WHEN frac >= 1 THEN 'g'
        |       ELSE lpad(lower(to_hex(CAST(floor(frac * 4294967296.0) AS BIGINT))), 8, '0')
        |  END""".stripMargin,

    "q_domain_cap" ->
      """SELECT source, doc_id, rank FROM (
        |SELECT source, doc_id, CAST(row_number() OVER (
        |  PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rank
        |FROM documents) WHERE rank <= 30""".stripMargin,

    "q_chunks" ->
      s"""WITH docs AS (SELECT doc_id, $W AS ws FROM documents),
         |starts AS (SELECT doc_id, ws,
         |  unnest(generate_series(1,
         |    ((greatest(ceil((len(ws) - 64) / 32.0) + 1, 1) - 1) * 32 + 1)::BIGINT,
         |    32)) AS s
         |  FROM docs)
         |SELECT doc_id, ((s - 1) // 32)::BIGINT AS chunk_id,
         |  md5(array_to_string(ws[s:s+63], ' ')) AS chunk_md5,
         |  least(64, len(ws) - s + 1)::BIGINT AS n_tokens
         |FROM starts""".stripMargin,

    "q_repetition" ->
      s"""WITH docs AS (SELECT doc_id AS id, CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END AS grams
         |  FROM documents),
         |gc AS (SELECT id, g, count(*) AS c
         |  FROM (SELECT id, unnest(grams) AS g FROM docs) GROUP BY id, g)
         |SELECT id AS doc_id, sum(c)::BIGINT AS n_grams,
         |  round(max(c)::DOUBLE / sum(c), 4) AS top_frac,
         |  round(count(*)::DOUBLE / sum(c), 4) AS distinct_frac
         |FROM gc GROUP BY id""".stripMargin,

    "q_redact" ->
      """SELECT doc_id, regexp_replace(regexp_replace(
        |  substr(text, 1, 40) || ' contact user' || doc_id || '@example.com or 555-123-4567',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_pack" ->
      s"""WITH d AS (SELECT doc_id, source, len($W)::INTEGER AS n_tokens FROM documents)
         |SELECT source, doc_id, n_tokens,
         |  ((sum(n_tokens) OVER w - n_tokens) // 2048)::BIGINT AS seq_index,
         |  ((sum(n_tokens) OVER w - n_tokens) % 2048)::BIGINT AS seq_offset
         |FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // q_chunk_tokens: the roundtrip law — chunks concatenated in order
    // detokenize to the exact word stream, which the oracle computes
    // WITHOUT running BPE (lossless encode => detok == join(words)).
    "q_chunk_tokens" ->
      s"""SELECT doc_id, md5(array_to_string($W, ' ')) AS detok_md5,
         |TRUE AS within_window FROM documents""".stripMargin,

    // q_pack_tokens: zero-merge BPE counts are closed-form — each word
    // contributes one token per code point plus its </w> terminal.
    "q_pack_tokens" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  coalesce(list_sum(list_transform($W, w -> len(w) + 1)), 0)::BIGINT
         |    AS n_tokens
         |  FROM documents)
         |SELECT source, doc_id, n_tokens,
         |  ((sum(n_tokens) OVER w - n_tokens) // 2048)::BIGINT AS seq_index,
         |  ((sum(n_tokens) OVER w - n_tokens) % 2048)::BIGINT AS seq_offset
         |FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_contamination" ->
      s"""WITH docs AS (SELECT doc_id, list_distinct(CASE WHEN len($W) < 3
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 2),
         |      i -> array_to_string(($W)[i:i+2], ' ')) END) AS sh
         |  FROM documents),
         |tg AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM docs WHERE doc_id % 5 <> 0),
         |bg AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM docs WHERE doc_id % 5 = 0),
         |rare AS (SELECT g FROM tg GROUP BY g HAVING count(*) <= 100)
         |SELECT train_id, bench_id, count(*) AS n_shared
         |FROM tg JOIN rare USING (g) JOIN bg USING (g)
         |GROUP BY train_id, bench_id HAVING count(*) >= 3""".stripMargin,

    "q_fuzzy_join" ->
      """SELECT a.s_name AS left_val, b.s_name AS right_val,
        |levenshtein(a.s_name, b.s_name) AS edit_dist
        |FROM supplier a JOIN supplier b ON a.s_name < b.s_name
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin,

    "q_span_dup" ->
      s"""WITH docs AS (SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 3
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 2),
         |      i -> array_to_string(($W)[i:i+2], ' ')) END) AS sh
         |  FROM documents WHERE len($W) > 0),
         |g AS (SELECT id, unnest(sh) AS g FROM docs),
         |own AS (SELECT g, min(id) AS first_id FROM g GROUP BY g)
         |SELECT id AS doc_id, count(*) AS n_grams,
         |CAST(sum(CASE WHEN first_id < id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |round(sum(CASE WHEN first_id < id THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_frac
         |FROM g JOIN own USING (g) GROUP BY 1""".stripMargin,

    // Mirrors removeDuplicateSpans at n=5: 1-based positions vs
    // Spark's 0-based are internally consistent on each side; the
    // rebuilt clean_text must match byte-for-byte.
    "q_span_removal" ->
      s"""WITH w AS (SELECT doc_id AS id, $W AS ws FROM documents WHERE len($W) > 0),
         |g AS (SELECT id, unnest(generate_series(1, len(ws) - 4)) AS pos, ws
         |  FROM w WHERE len(ws) >= 5),
         |g2 AS (SELECT id, pos, array_to_string(ws[pos:pos+4], ' ') AS gram FROM g),
         |own AS (SELECT gram, min(id) AS owner FROM g2 GROUP BY gram),
         |rem AS (SELECT g2.id, g2.pos FROM g2 JOIN own USING (gram)
         |  WHERE own.owner < g2.id),
         |cov AS (SELECT DISTINCT id, cp FROM
         |  (SELECT id, unnest(generate_series(pos, pos + 4)) AS cp FROM rem)),
         |tok AS (SELECT id, unnest(generate_series(1, len(ws))) AS i, ws FROM w),
         |tok2 AS (SELECT id, i, ws[i] AS wd FROM tok),
         |keep AS (SELECT t.id, t.i, t.wd FROM tok2 t
         |  LEFT JOIN cov c ON t.id = c.id AND t.i = c.cp WHERE c.id IS NULL),
         |k AS (SELECT id, count(*) AS nk, string_agg(wd, ' ' ORDER BY i) AS txt
         |  FROM keep GROUP BY id)
         |SELECT w.id AS doc_id, len(w.ws) AS n_tokens,
         |  CAST(len(w.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
         |  coalesce(k.txt, '') AS clean_text
         |FROM w LEFT JOIN k ON w.id = k.id""".stripMargin,

    "q_containment" ->
      s"""WITH docs AS (SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents WHERE len($W) > 0),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id <> b.id)
         |SELECT id_a, id_b, round(c, 4) AS containment FROM (
         |  SELECT id_a, id_b,
         |    len(list_intersect(da.sh, db.sh))::DOUBLE / len(da.sh) AS c
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id)
         |WHERE c >= 0.6""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (SELECT event_type,
        |  quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value,
        |CASE WHEN value IS NULL THEN NULL
        |     ELSE round(least(greatest(value, lo), hi), 4) END AS value_clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin,

    "q_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (
        |  ORDER BY md5('graft:' || doc_id::VARCHAR), doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    "q_doc_embed" -> {
      val cases = (1 to 8).map(i =>
        s"max(CASE WHEN d = $i THEN mv END) AS mean_$i").mkString(", ")
      s"""WITH docs AS (SELECT doc_id, $W AS ws FROM documents),
         |starts AS (SELECT doc_id, ws,
         |  unnest(generate_series(1,
         |    ((greatest(ceil((len(ws) - 32) / 32.0) + 1, 1) - 1) * 32 + 1)::BIGINT,
         |    32)) AS s
         |  FROM docs),
         |c AS (SELECT doc_id, array_to_string(ws[s:s+31], ' ') AS chunk FROM starts),
         |e AS (SELECT doc_id, d,
         |  ((('0x' || substr(md5(chunk || ':' || d), 1, 8))::UBIGINT % 1024) / 1024.0)
         |    AS mv_part
         |  FROM c, unnest(generate_series(1, 8)) AS t(d)),
         |m AS (SELECT doc_id, d, sum(mv_part) / count(*) AS mv FROM e GROUP BY 1, 2)
         |SELECT doc_id, $cases FROM m GROUP BY doc_id""".stripMargin
    },

    "q_bpe" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS n FROM (SELECT unnest($W) AS w FROM documents)
         |  GROUP BY w),
         |p AS (
         |  SELECT substr(w, i, 1) AS a,
         |    CASE WHEN i = len(w) THEN '</w>' ELSE substr(w, i + 1, 1) END AS b, n
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(i)),
         |best AS (
         |  SELECT a || ' ' || b AS top_merge FROM p
         |  GROUP BY a, b ORDER BY sum(n) DESC, a, b LIMIT 1)
         |SELECT doc_id, md5(array_to_string($W, ' ')) AS detok_md5,
         |  (SELECT top_merge FROM best) AS top_merge
         |FROM documents""".stripMargin,

    "q_top_ngrams" ->
      s"""WITH g AS (SELECT unnest(list_transform(generate_series(1, len($W) - 1),
         |    i -> array_to_string(($W)[i:i+1], ' '))) AS gram
         |  FROM documents WHERE len($W) >= 2)
         |SELECT gram, count(*) AS freq FROM g GROUP BY 1
         |ORDER BY freq DESC, gram LIMIT 50""".stripMargin,

    // per-(term,doc) counts, HUGEINT moments, the same integer floors
    "q_burstiness" ->
      s"""WITH pd AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($W) AS word FROM documents)
         |  GROUP BY 1, 2),
         |pt AS (SELECT word AS term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(c) AS BIGINT) AS cf,
         |  sum(CAST(c AS HUGEINT) * c) AS q FROM pd GROUP BY 1)
         |SELECT term, df, cf,
         |  CAST(CAST(cf AS HUGEINT) * 1000000 // df AS BIGINT) AS burst_ppm,
         |  CASE WHEN df >= 2 AND cf > 0 THEN
         |    CAST((df * q - CAST(cf AS HUGEINT) * cf) * 1000000
         |      // (CAST(df - 1 AS HUGEINT) * cf) AS BIGINT)
         |  END AS vmr_ppm
         |FROM pt ORDER BY cf DESC, term LIMIT 50""".stripMargin,

    // n_new/n_exact_dup/n_near recomputed from first principles; the
    // booleans are pinned true (gate style, like the recall oracles)
    "q_dedup_incremental" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |copies AS (SELECT doc_id + 100000 AS doc_id, text FROM documents
         |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1),
         |planted_src AS (SELECT doc_id, text FROM old
         |  WHERE doc_id % 50 = 3 AND len($W) >= 20),
         |clones AS (SELECT doc_id + 200000 AS doc_id, 'zq zq ' || text AS text
         |  FROM planted_src),
         |new_batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id, text FROM copies
         |  UNION ALL SELECT doc_id, text FROM clones),
         |sha AS (SELECT doc_id + 200000 AS doc_id,
         |  list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM planted_src),
         |shb AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM clones),
         |near AS (SELECT sha.doc_id FROM sha JOIN shb USING (doc_id)
         |  WHERE len(list_intersect(sha.sh, shb.sh))::DOUBLE /
         |    len(list_distinct(list_concat(sha.sh, shb.sh))) >= 0.8)
         |SELECT
         |  (SELECT count(*) FROM new_batch) AS n_new,
         |  (SELECT count(*) FROM new_batch n WHERE EXISTS (SELECT 1 FROM old o
         |     WHERE md5(trim(regexp_replace(lower(n.text), '\\s+', ' ', 'g'))) =
         |           md5(trim(regexp_replace(lower(o.text), '\\s+', ' ', 'g'))))) AS n_exact_dup,
         |  (SELECT count(*) FROM near) AS n_near,
         |  true AS exact_dropped_ok,
         |  true AS near_recall_ok""".stripMargin,

    // operator-only twin: n_new/n_exact_dup from first principles,
    // exact_dropped_ok pinned (the fingerprint-path guarantee)
    "q_dedup_incr_op" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |new_batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
         |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1)
         |SELECT
         |  (SELECT count(*) FROM new_batch) AS n_new,
         |  (SELECT count(*) FROM new_batch n WHERE EXISTS (SELECT 1 FROM old o
         |     WHERE md5(trim(regexp_replace(lower(n.text), '\\s+', ' ', 'g'))) =
         |           md5(trim(regexp_replace(lower(o.text), '\\s+', ' ', 'g'))))) AS n_exact_dup,
         |  true AS exact_dropped_ok""".stripMargin,

    // same CC recursive CTE as q_dedup_cc, then the md5 cluster-hash
    // split (thresholds = hexThreshold(0.8)/(0.9) from the Spark side)
    "q_split_assign" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |edges AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |  len(list_intersect(da.sh, db.sh))::DOUBLE /
         |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id) WHERE j >= 0.2),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS node FROM documents
         |  UNION
         |  SELECT r.src, CASE WHEN e.id_a = r.node THEN e.id_b ELSE e.id_a END
         |  FROM reach r JOIN edges e ON r.node = e.id_a OR r.node = e.id_b),
         |lab AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src)
         |SELECT doc_id, component,
         |CASE WHEN substr(md5('graft:' || component::VARCHAR), 1, 8)
         |       < '${TrainingData.hexThreshold(0.8)}' THEN 'train'
         |     WHEN substr(md5('graft:' || component::VARCHAR), 1, 8)
         |       < '${TrainingData.hexThreshold(0.9)}' THEN 'val'
         |     ELSE 'test' END AS split
         |FROM lab""".stripMargin,

    "q_dedup_survivors" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |edges AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |  len(list_intersect(da.sh, db.sh))::DOUBLE /
         |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id) WHERE j >= 0.2),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS node FROM documents
         |  UNION
         |  SELECT r.src, CASE WHEN e.id_a = r.node THEN e.id_b ELSE e.id_a END
         |  FROM reach r JOIN edges e ON r.node = e.id_a OR r.node = e.id_b),
         |labels AS (SELECT src AS id, min(node) AS component FROM reach GROUP BY src)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id IN (SELECT id FROM labels WHERE id = component)""".stripMargin,

    "q_dedup_minhash" ->
      s"""${ngramPairsSql(0.5)}
         |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM exact_pairs""".stripMargin,

    "q_dedup_simhash" ->
      s"""${ngramPairsSql(0.5)}
         |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM exact_pairs""".stripMargin,

    "q_embed_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a JOIN e b
        |  ON a.vec_id < b.vec_id
        |  WHERE (list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y)) /
        |    (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)), (x, y) -> x + y)) *
        |     sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(b.embedding)),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y))) >= 0.35)
        |SELECT count(*) AS n_exact, TRUE AS subset_ok, TRUE AS recall_ok FROM exact""".stripMargin,

    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |exact AS (SELECT DISTINCT b.vec_id AS id_b FROM e a JOIN e b
        |  ON a.vec_id < b.vec_id
        |  WHERE (list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y)) /
        |    (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)), (x, y) -> x + y)) *
        |     sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(b.embedding)),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y))) >= 0.35)
        |SELECT (SELECT count(*) FROM e) AS n_total,
        |  count(*) AS n_dropped_exact, TRUE AS subset_ok, TRUE AS recall_ok FROM exact""".stripMargin,

    // same exact drop-set pin; the Spark side composes the ANN kNN
    // graph path and must land subset_ok AND recall_ok TRUE
    "q_semdedup_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |exact AS (SELECT DISTINCT b.vec_id AS id_b FROM e a JOIN e b
        |  ON a.vec_id < b.vec_id
        |  WHERE (list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y)) /
        |    (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)), (x, y) -> x + y)) *
        |     sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(b.embedding)),
        |      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), (x, y) -> x + y))) >= 0.35)
        |SELECT (SELECT count(*) FROM e) AS n_total,
        |  count(*) AS n_dropped_exact, TRUE AS subset_ok, TRUE AS recall_ok FROM exact""".stripMargin,

    "q_sim_lsh" ->
      s"""$BruteTop5Sql
         |SELECT count(*) AS n_brute, TRUE AS recall_ok FROM brute""".stripMargin,

    "q_sim_ivf" ->
      s"""$BruteTop5Sql
         |SELECT count(*) AS n_brute, TRUE AS recall_ok FROM brute""".stripMargin,

    "q_sim_pq" ->
      s"""$BruteTop5Sql
         |SELECT count(*) AS n_brute, TRUE AS recall_ok FROM brute""".stripMargin,

    "q_sim_ivfpq" ->
      s"""$BruteTop5Sql
         |SELECT count(*) AS n_brute, TRUE AS recall_ok FROM brute""".stripMargin,

    "q_ann_graph" ->
      s"""$BruteTop5Sql
         |SELECT count(*) AS n_brute, TRUE AS recall_ok FROM brute""".stripMargin,

    "q_bloom_join" ->
      """SELECT l_suppkey, s_name, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_acctbal > 9000
        |GROUP BY l_suppkey, s_name""".stripMargin,

    "q_quality_filter" ->
      s"""WITH s AS (SELECT doc_id,
         |  len($W) AS nw,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nsp,
         |  length(text) AS lt,
         |  length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS nonsym,
         |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         |  len(list_filter($W, w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS stops
         |  FROM documents),
         |v AS (SELECT doc_id, nw,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE nsp::DOUBLE / nw END AS mwl,
         |  CASE WHEN lt = 0 THEN 0.0 ELSE (lt - nonsym)::DOUBLE / lt END AS sym,
         |  CASE WHEN nsp = 0 THEN 0.0 ELSE alpha::DOUBLE / nsp END AS alr,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE stops::DOUBLE / nw END AS str
         |  FROM s)
         |SELECT doc_id AS id, CAST(nw AS INTEGER) AS n_words,
         |  round(mwl, 4) AS mean_word_len, round(sym, 4) AS symbol_ratio,
         |  round(alr, 4) AS alpha_ratio, round(str, 4) AS stopword_ratio,
         |  nw BETWEEN 40 AND 1000 AS words_ok,
         |  mwl BETWEEN 3.0 AND 10.0 AS word_len_ok,
         |  sym <= 0.1 AS symbol_ok,
         |  alr >= 0.5 AS alpha_ok,
         |  str BETWEEN 0.0 AND 0.6 AS stopword_ok,
         |  (nw BETWEEN 40 AND 1000) AND (mwl BETWEEN 3.0 AND 10.0) AND sym <= 0.1
         |    AND alr >= 0.5 AND (str BETWEEN 0.0 AND 0.6) AS keep
         |FROM v""".stripMargin,

    // same shared bins; per-bin rounded sqrt terms, one closing
    // division by sqrt(A*B)
    "q_bhattacharyya" ->
      """WITH cells AS (SELECT CAST(round(value * 100) AS BIGINT) // 10
        |    AS b,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT CAST(COALESCE(sum(a), 0) AS BIGINT) AS n_a,
        |  CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN a > 0 OR c > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bins,
        |  COALESCE(sum(CAST(round(sqrt(CAST(a * c AS DOUBLE)), 6)
        |    AS DECIMAL(28,6))), 0) AS s FROM cells),
        |b2 AS (SELECT n_a, n_b, n_bins,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round(CAST(s AS DOUBLE) / sqrt(CAST(n_a * n_b AS DOUBLE)), 6)
        |  END AS bc FROM m)
        |SELECT n_a, n_b, n_bins, bc,
        |  CASE WHEN bc IS NOT NULL THEN
        |    round(sqrt(greatest(1.0 - bc, 0.0)), 6) END AS hellinger
        |FROM b2""".stripMargin,

    // same per-user weights; HUGEINT Kish floors
    "q_kish" ->
      """WITH w AS (SELECT event_type AS g, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS w
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |  sum(w::HUGEINT) AS sw, sum(w::HUGEINT * w) AS sw2
        |  FROM w WHERE w > 0 GROUP BY 1)
        |SELECT g AS event_type, n,
        |  CAST((sw * sw * 1000) // sw2 AS BIGINT) AS n_eff_milli,
        |  CAST((n::HUGEINT * sw2 * 1000000) // (sw * sw) AS BIGINT)
        |    AS deff_ppm
        |FROM m ORDER BY 1""".stripMargin,

    // the three stage oracles chained: keep condition, min-id per
    // fingerprint, Hamilton floors + largest remainders
    "q_pipeline" ->
      s"""WITH s AS (SELECT doc_id, source, text,
         |  len($W) AS nw,
         |  length(regexp_replace(text, '\\s', '', 'g')) AS nsp,
         |  length(text) AS lt,
         |  length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS nonsym,
         |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         |  len(list_filter($W, w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS stops
         |  FROM documents),
         |v AS (SELECT doc_id, source, text, nw,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE nsp::DOUBLE / nw END AS mwl,
         |  CASE WHEN lt = 0 THEN 0.0 ELSE (lt - nonsym)::DOUBLE / lt END AS sym,
         |  CASE WHEN nsp = 0 THEN 0.0 ELSE alpha::DOUBLE / nsp END AS alr,
         |  CASE WHEN nw = 0 THEN 0.0 ELSE stops::DOUBLE / nw END AS str
         |  FROM s),
         |kept AS (SELECT doc_id, source, text, nw FROM v
         |  WHERE (nw BETWEEN 40 AND 1000) AND (mwl BETWEEN 3.0 AND 10.0)
         |    AND sym <= 0.1 AND alr >= 0.5 AND (str BETWEEN 0.0 AND 0.6)),
         |winners AS (SELECT min(doc_id) AS doc_id FROM kept
         |  GROUP BY md5($NormalizedText)),
         |surv AS (SELECT kept.source, kept.nw FROM kept
         |  JOIN winners USING (doc_id)),
         |per AS (SELECT source AS key, CAST(sum(nw) AS BIGINT) AS weight
         |  FROM surv WHERE source IS NOT NULL GROUP BY 1
         |  HAVING sum(nw) > 0),
         |w AS (SELECT sum(weight::HUGEINT) AS tw FROM per),
         |b AS (SELECT key, weight,
         |  CAST((weight::HUGEINT * 100000) // tw AS BIGINT) AS base,
         |  weight::HUGEINT * 100000 -
         |    ((weight::HUGEINT * 100000) // tw) * tw AS rem
         |  FROM per CROSS JOIN w),
         |lo AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS r FROM b),
         |rk AS (SELECT key, weight, base, rem,
         |  CAST(row_number() OVER (ORDER BY rem DESC, key) AS BIGINT)
         |    AS rnk FROM b)
         |SELECT key, weight, base,
         |  CAST(CASE WHEN rnk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  base + CAST(CASE WHEN rnk <= r THEN 1 ELSE 0 END AS BIGINT)
         |    AS alloc
         |FROM rk CROSS JOIN lo ORDER BY key""".stripMargin,

    // rank-desc cumsum; interval-start HUGEINT boundary compares
    "q_abc" ->
      """WITH per AS (SELECT CAST(o_custkey AS VARCHAR) AS k,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS w
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1 HAVING sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    * 100 AS BIGINT)) > 0),
        |tot AS (SELECT sum(w::HUGEINT) AS tw FROM per),
        |r AS (SELECT k, w,
        |  sum(w) OVER (ORDER BY -w, k ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per),
        |cl AS (SELECT k, w,
        |  CASE WHEN (cum - w)::HUGEINT * 1000000 < 700000 * tw THEN 'A'
        |       WHEN (cum - w)::HUGEINT * 1000000 < 900000 * tw THEN 'B'
        |       ELSE 'C' END AS abc_class
        |  FROM r CROSS JOIN tot)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(w) AS BIGINT) AS weight,
        |  CAST(sum(w::HUGEINT) * 1000000 // tw AS BIGINT)
        |    AS weight_share_ppm
        |FROM cl CROSS JOIN tot GROUP BY 1, tw ORDER BY 1""".stripMargin,

    // HUGEINT floors and remainders; leftover seats by remainder rank
    "q_apportion" ->
      """WITH per AS (SELECT source AS key,
        |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS weight
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1 HAVING sum(CAST(n_chars AS BIGINT)) > 0),
        |w AS (SELECT sum(weight::HUGEINT) AS tw FROM per),
        |b AS (SELECT key, weight,
        |  CAST((weight::HUGEINT * 1000000) // tw AS BIGINT) AS base,
        |  weight::HUGEINT * 1000000 -
        |    ((weight::HUGEINT * 1000000) // tw) * tw AS rem
        |  FROM per CROSS JOIN w),
        |lo AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS r FROM b),
        |rk AS (SELECT key, weight, base, rem,
        |  CAST(row_number() OVER (ORDER BY rem DESC, key) AS BIGINT)
        |    AS rnk FROM b)
        |SELECT key, weight, base,
        |  CAST(CASE WHEN rnk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  base + CAST(CASE WHEN rnk <= r THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM rk CROSS JOIN lo ORDER BY key""".stripMargin,

    // running word-total recomputed with a plain window over the same
    // (rounded stopword quality DESC, doc_id) total order
    "q_budget_select" ->
      s"""WITH s AS (SELECT doc_id, len($W) AS nw,
         |  CASE WHEN len($W) = 0 THEN 0.0
         |       ELSE len(list_filter($W, w -> w IN
         |         ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE / len($W)
         |  END AS str FROM documents),
         |r AS (SELECT doc_id, nw, round(str, 4) AS quality,
         |  sum(nw) OVER (ORDER BY round(str, 4) DESC, doc_id) AS cum FROM s)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_tokens, quality,
         |  CAST(cum AS BIGINT) AS cum_tokens
         |FROM r WHERE cum <= 150000""".stripMargin,

    // CMS estimate(k) = min over hash rows of the colliding keys'
    // total count — computable exactly from the raw table; the bucket
    // recipe ('0x'||substr(md5(...),1,8))::UBIGINT % w matches the
    // aggregator's cmsBucket byte for byte.
    "q_cms" ->
      """WITH docs AS (SELECT lang || ':' || source AS key FROM documents
        |              WHERE lang || ':' || source IS NOT NULL),
        |hs AS (SELECT key, i,
        |  CAST(('0x' || substr(md5('cms' || i || ':' || key), 1, 8)) AS UBIGINT) % 8 AS b
        |  FROM docs, (SELECT unnest(range(3)) AS i)),
        |cells AS (SELECT i, b, count(*) AS c FROM hs GROUP BY i, b),
        |kh AS (SELECT DISTINCT key, i, b FROM hs)
        |SELECT kh.key AS key, CAST(MIN(c.c) AS BIGINT) AS cms_est
        |FROM kh JOIN cells c ON kh.i = c.i AND kh.b = c.b
        |GROUP BY kh.key""".stripMargin,

    // same md5 parity signs, one counter per replicate, exact-rank
    // median of the squared counters against exact F2
    "q_ams" ->
      """WITH docs AS (SELECT lang || ':' || source AS k FROM documents
        |              WHERE lang || ':' || source IS NOT NULL),
        |sgn AS (SELECT i, CAST(CAST(('0x' || substr(md5('ams' || i || ':' || k),
        |    1, 8)) AS UBIGINT) % 2 AS BIGINT) * 2 - 1 AS s
        |  FROM docs, (SELECT unnest(range(9)) AS i)),
        |ctr AS (SELECT i, sum(CAST(s AS HUGEINT)) AS c FROM sgn GROUP BY i),
        |est AS (SELECT c * c AS e,
        |  row_number() OVER (ORDER BY c * c, i) AS rk FROM ctr),
        |med AS (SELECT CAST(e AS BIGINT) AS f2_est FROM est WHERE rk = 5),
        |ex AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS f2_exact FROM
        |  (SELECT count(*) AS cnt FROM docs GROUP BY k))
        |SELECT n_rows, f2_exact, f2_est,
        |  CASE WHEN f2_exact > 0 THEN
        |    CAST(abs(CAST(f2_est AS HUGEINT) - f2_exact) * 1000000 // f2_exact
        |      AS BIGINT) END AS err_ppm
        |FROM ex, med""".stripMargin,

    // Chained-CTE PageRank, one CTE per iteration; '//' is DuckDB's
    // integer floor-divide == Spark's `div` on the all-positive scores.
    // Sums are CAST back to BIGINT (DuckDB widens SUM to HUGEINT).
    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |verts AS (SELECT DISTINCT src AS node FROM edges
        |          UNION SELECT DISTINCT dst AS node FROM edges),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score FROM verts),
        |inf1 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
        |  FROM edges e JOIN it0 sc ON e.src = sc.node JOIN outdeg od ON e.src = od.src
        |  GROUP BY e.dst),
        |it1 AS (SELECT v.node, 150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM verts v LEFT JOIN inf1 i ON v.node = i.dst),
        |inf2 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
        |  FROM edges e JOIN it1 sc ON e.src = sc.node JOIN outdeg od ON e.src = od.src
        |  GROUP BY e.dst),
        |it2 AS (SELECT v.node, 150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM verts v LEFT JOIN inf2 i ON v.node = i.dst),
        |inf3 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
        |  FROM edges e JOIN it2 sc ON e.src = sc.node JOIN outdeg od ON e.src = od.src
        |  GROUP BY e.dst),
        |it3 AS (SELECT v.node, 150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM verts v LEFT JOIN inf3 i ON v.node = i.dst)
        |SELECT node, CAST(score AS BIGINT) AS score FROM it3""".stripMargin,

    // Pairwise Pearson from exact decimal sums; the 6 pair blocks are
    // generated to keep the ×/−/÷/√ shapes EXACTLY the Spark ones
    // (bit-exact cross-engine); decimal→double via the VARCHAR pin
    // (see q_trend_fit).
    "q_corr_matrix" -> corrMatrixSql,

    // Probe grams LEFT JOIN the corpus' distinct gram set: exact
    // integer counts, one long/long IEEE division for the fraction.
    "q_novelty" ->
      s"""WITH docs AS (SELECT doc_id, list_distinct(CASE WHEN len($W) < 3
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 2),
         |      i -> array_to_string(($W)[i:i+2], ' ')) END) AS sh
         |  FROM documents),
         |cg AS (SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id % 5 <> 0),
         |pg AS (SELECT doc_id AS probe_id, unnest(sh) AS g FROM docs WHERE doc_id % 5 = 0)
         |SELECT probe_id, count(*) AS n_grams,
         |  count(*) - count(cg.g) AS n_unseen,
         |  CAST(count(*) - count(cg.g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         |FROM pg LEFT JOIN cg ON pg.g = cg.g
         |GROUP BY probe_id""".stripMargin,

    // Same bigram extraction as the Spark fused kernel (docs with < 2
    // words contribute nothing on either side); all-bigint fixed-point
    // probabilities, one double division at the end.
    "q_lm_score" ->
      s"""WITH dw AS (SELECT doc_id, $W AS ws FROM documents),
         |cb AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> array_to_string(ws[i:i+1], ' '))) AS g
         |  FROM dw WHERE doc_id % 5 <> 0 AND len(ws) >= 2),
         |c2 AS (SELECT g, count(*) AS c2 FROM cb GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1 FROM cb GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v
         |  FROM (SELECT unnest(ws) AS w FROM dw WHERE doc_id % 5 <> 0)),
         |pb AS (SELECT doc_id AS probe_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> array_to_string(ws[i:i+1], ' '))) AS g
         |  FROM dw WHERE doc_id % 5 = 0 AND len(ws) >= 2),
         |p AS (SELECT probe_id,
         |    ((COALESCE(c2.c2, 0) + 1) * 1000000) // (COALESCE(c1.c1, 0) + v.v) AS p
         |  FROM pb LEFT JOIN c2 ON pb.g = c2.g
         |          LEFT JOIN c1 ON split_part(pb.g, ' ', 1) = c1.w1
         |          CROSS JOIN v)
         |SELECT probe_id, count(*) AS n_bigrams, CAST(sum(p) AS BIGINT) AS score_scaled,
         |  CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS avg_prob
         |FROM p GROUP BY probe_id""".stripMargin,

    // Mirrors dsirWeights: hashed 1+2-gram features (first-8-md5-hex
    // mod 65536 — same hash family as the sampling oracles), add-one
    // smoothed fixed-point likelihood ratio, bigint // only.
    "q_dsir" ->
      s"""WITH dw AS (SELECT doc_id, $W AS ws FROM documents),
         |uni AS (SELECT doc_id, unnest(ws) AS g FROM dw WHERE len(ws) >= 1),
         |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> array_to_string(ws[i:i+1], ' '))) AS g FROM dw WHERE len(ws) >= 2),
         |feats AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT AS BIGINT) % 65536 AS f
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |rawf AS (SELECT doc_id, f FROM feats WHERE doc_id % 4 <> 0),
         |tgtf AS (SELECT f FROM feats WHERE doc_id % 4 = 0),
         |cr AS (SELECT f, count(*) AS cr FROM rawf GROUP BY f),
         |ct AS (SELECT f, count(*) AS ct FROM tgtf GROUP BY f),
         |tot AS (SELECT (SELECT count(*) FROM rawf) AS tr,
         |               (SELECT count(*) FROM tgtf) AS tt),
         |p AS (SELECT doc_id,
         |    ((COALESCE(ct.ct, 0) + 1) * (tot.tr + 65536) * 1000)
         |      // ((cr.cr + 1) * (tot.tt + 65536)) AS r
         |  FROM rawf LEFT JOIN ct USING (f) JOIN cr USING (f) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_feats, CAST(sum(r) AS BIGINT) AS ratio_sum_scaled,
         |  CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / CAST(count(*) * 1000 AS DOUBLE) AS avg_ratio
         |FROM p GROUP BY doc_id""".stripMargin,

    // Mirrors cooccurrence: distinct items, 2..1024 basket cap, a<b
    // self-join pairs, lift as one IEEE division of bigint products.
    "q_cooccur" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b, count(*) AS sz FROM items GROUP BY b
        |       HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |nb AS (SELECT count(*) AS n_baskets FROM sz),
        |cnt AS (SELECT i, count(*) AS ci FROM kept GROUP BY i),
        |pairs AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS support
        |  FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, support, ca.ci AS n_a, cb.ci AS n_b,
        |  nb.n_baskets, CAST(support * nb.n_baskets AS DOUBLE)
        |    / CAST(ca.ci * cb.ci AS DOUBLE) AS lift
        |FROM pairs JOIN cnt ca ON pairs.item_a = ca.i
        |           JOIN cnt cb ON pairs.item_b = cb.i CROSS JOIN nb""".stripMargin,

    // Mirrors chiSquareDrift: add-one smoothing over the union bin
    // set, HUGEINT cleared-denominator terms, exact integer sum.
    "q_drift" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) // 500 AS bin FROM events),
        |a AS (SELECT event_type, bin, count(*) AS a FROM ev
        |      WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |b AS (SELECT event_type, bin, count(*) AS b FROM ev
        |      WHERE event_id % 2 <> 0 GROUP BY 1, 2),
        |j AS (SELECT COALESCE(a.event_type, b.event_type) AS event_type,
        |             COALESCE(a.bin, b.bin) AS bin,
        |             COALESCE(a.a, 0) + 1 AS a1, COALESCE(b.b, 0) + 1 AS o1
        |      FROM a FULL OUTER JOIN b ON a.event_type = b.event_type AND a.bin = b.bin),
        |tot AS (SELECT event_type, CAST(sum(a1) AS BIGINT) AS ta,
        |        CAST(sum(o1) AS BIGINT) AS tb, count(*) AS n_bins FROM j GROUP BY 1),
        |terms AS (SELECT j.event_type, tot.n_bins,
        |    (o1 * tot.ta - a1 * tot.tb)::HUGEINT AS d,
        |    (a1 * tot.tb * tot.ta)::HUGEINT AS den
        |  FROM j JOIN tot ON j.event_type = tot.event_type)
        |SELECT event_type, n_bins,
        |  CAST(SUM(d * d * 1000000 // den) AS BIGINT) AS chi2_scaled,
        |  CAST(CAST(SUM(d * d * 1000000 // den) AS BIGINT) AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS chi2
        |FROM terms GROUP BY 1, 2""".stripMargin,

    // Mirrors rrfFuse: full-outer join of the two rank lists, fixed
    // left-to-right coalesce(1/(60+r), 0) chain, one IEEE division
    // per term over exact integer ranks.
    // row_number rankings on the same (metric DESC, key) total order,
    // triangular step-function overlap, dyadic ppm floors summed
    "q_rbo" ->
      """WITH per AS (SELECT l_suppkey AS id,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev,
        |  CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        |ra AS (SELECT id, r FROM (SELECT id,
        |  row_number() OVER (ORDER BY rev DESC, id) AS r FROM per)
        |  WHERE r <= 20),
        |rb AS (SELECT id, r FROM (SELECT id,
        |  row_number() OVER (ORDER BY cnt DESC, id) AS r FROM per)
        |  WHERE r <= 20),
        |sh AS (SELECT greatest(ra.r, rb.r) AS m FROM ra JOIN rb USING (id)),
        |depths AS (SELECT unnest(range(1, 21)) AS i),
        |ov AS (SELECT i, CAST(count(m) AS BIGINT) AS ov
        |  FROM depths LEFT JOIN sh ON sh.m <= depths.i GROUP BY i)
        |SELECT CAST(20 AS BIGINT) AS depth,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ra) AS n_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM rb) AS n_b,
        |  (SELECT ov FROM ov WHERE i = 20) AS overlap_full,
        |  CAST(sum(ov * 1000000 // ((1 << i) * i)) AS BIGINT) AS rbo_ppm
        |FROM ov""".stripMargin,

    "q_rrf" ->
      """WITH r1 AS (SELECT doc_id, row_number() OVER
        |    (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r FROM documents),
        |r2 AS (SELECT doc_id, row_number() OVER
        |    (PARTITION BY lang ORDER BY substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8),
        |     doc_id) AS r
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
        |  (CASE WHEN r1.r IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN r2.r IS NULL THEN 0 ELSE 1 END) AS n_rankers,
        |  (COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r1.r AS DOUBLE), 0)
        |    + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r2.r AS DOUBLE), 0)) AS rrf
        |FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id""".stripMargin,

    // Mirrors percentileRank: same window, NULLS FIRST pinned (Spark
    // asc default vs DuckDB's NULLS LAST).
    "q_prank" ->
      """SELECT doc_id, lang, n_chars,
        |  cume_dist() OVER w AS pct_rank,
        |  percent_rank() OVER w AS pct_rank_excl
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC NULLS FIRST)""".stripMargin,

    // Mirrors abTest op-for-op: HUGEINT sums pinned back to BIGINT,
    // identical cast/divide/sqrt shapes, integer zero-variance guard.
    "q_abtest" ->
      """WITH e AS (SELECT event_type, CAST(user_id % 2 AS VARCHAR) AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events WHERE value IS NOT NULL),
        |a AS (SELECT event_type, arm, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
        |  FROM e GROUP BY 1, 2),
        |j AS (SELECT aa.event_type, aa.n AS n_a, aa.s AS s_a, aa.q AS q_a,
        |             bb.n AS n_b, bb.s AS s_b, bb.q AS q_b
        |  FROM a aa JOIN a bb ON aa.event_type = bb.event_type
        |  WHERE aa.arm = '0' AND bb.arm = '1')
        |SELECT event_type, n_a, n_b,
        |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2
        |      AND NOT (n_a * q_a = s_a * s_a AND n_b * q_b = s_b * s_b) THEN
        |    (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |            / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE)
        |         + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |            / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE))
        |  END AS t
        |FROM j""".stripMargin,

    // per-user exact sums, HUGEINT moments, the delta-method SE as
    // the operation-for-operation identical IEEE shape
    "q_delta_ratio" ->
      """WITH pu AS (SELECT CAST(user_id % 2 AS VARCHAR) AS arm, user_id AS u,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS x,
        |  CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM pu GROUP BY 1)
        |SELECT arm, n_users, CAST(sx AS BIGINT) AS num_sum,
        |  CAST(sy AS BIGINT) AS den_sum,
        |  CASE WHEN sy > 0 THEN
        |    round(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE), 6) END AS ratio,
        |  CASE WHEN n_users >= 2 AND sy > 0 THEN
        |    CAST(floor(sqrt((
        |      CAST(n_users * sxx - sx * sx AS DOUBLE) /
        |        (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0)) -
        |      2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) *
        |        (CAST(n_users * sxy - sx * sy AS DOUBLE) /
        |        (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0))) +
        |      (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) *
        |        (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) *
        |        (CAST(n_users * syy - sy * sy AS DOUBLE) /
        |        (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0)))
        |    ) / (CAST(n_users AS DOUBLE) *
        |      (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)) *
        |      (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)))) * 1000000.0)
        |    AS BIGINT)
        |  END AS se_micros
        |FROM m""".stripMargin,

    // pooled-rate IEEE shape mirrored, rounded fences compared
    "q_pchart" ->
      """WITH pd AS (SELECT CAST(ts AS DATE) AS period,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS r
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |p AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
        |  CAST(coalesce(sum(r), 0) AS BIGINT) AS rr FROM pd),
        |f AS (SELECT period, n, r,
        |  rr::DOUBLE / (CASE WHEN nn > 0 THEN nn::DOUBLE END) AS pbar,
        |  CASE WHEN n > 0 THEN n::DOUBLE END AS ntd
        |  FROM pd, p),
        |g AS (SELECT period, n, r,
        |  round(r::DOUBLE / ntd, 6) AS phat,
        |  round(greatest(pbar - 3.0 * sqrt(pbar * (1.0 - pbar) / ntd), 0.0),
        |    6) AS lcl,
        |  round(pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / ntd), 6) AS ucl
        |  FROM f)
        |SELECT period, n, r, phat, lcl, ucl,
        |  phat < lcl AS out_low, phat > ucl AS out_high
        |FROM g ORDER BY period""".stripMargin,

    // same lead-pair edges; reversal self-join, two // floors
    "q_reciprocity" ->
      """WITH e AS (SELECT src, dst FROM (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS dst
        |  FROM events)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        |w AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |  FROM e GROUP BY 1, 2),
        |j AS (SELECT a.w, b.w AS wr FROM w a
        |  LEFT JOIN w b ON a.src = b.dst AND a.dst = b.src)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(coalesce(sum(w), 0) AS BIGINT) AS w_total,
        |  CAST(coalesce(sum(CASE WHEN wr IS NOT NULL THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS recip_edges,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CASE WHEN wr IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |      // count(*) AS BIGINT)
        |  END AS recip_ppm,
        |  CASE WHEN sum(w) > 0 THEN
        |    CAST(sum(least(w, coalesce(wr, 0))) * 1000000 // sum(w) AS BIGINT)
        |  END AS recip_w_ppm
        |FROM j""".stripMargin,

    // Mirrors transitionMatrix: lead pairs, exact counts, one IEEE
    // division for the row-normalized probability.
    "q_transitions" ->
      """WITH p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |c AS (SELECT from_state, to_state, count(*) AS n FROM p
        |  WHERE from_state IS NOT NULL AND to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
        |FROM c JOIN t USING (from_state)""".stripMargin,

    // same lag gaps; the n cancels in (σ−μ)/(σ+μ)
    "q_interarrival" ->
      """WITH g AS (SELECT event_type AS t,
        |  (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id)) // 1000000 AS g
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL AND event_id IS NOT NULL),
        |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_gaps,
        |  sum(g::HUGEINT) AS sg, sum(g::HUGEINT * g) AS sg2
        |  FROM g WHERE g IS NOT NULL GROUP BY 1),
        |d AS (SELECT t, n_gaps, sg,
        |  sqrt(CAST(n_gaps::HUGEINT * sg2 - sg * sg AS DOUBLE)) AS root
        |  FROM m)
        |SELECT t AS event_type, n_gaps,
        |  CASE WHEN root + CAST(sg AS DOUBLE) > 0 THEN
        |    round((root - CAST(sg AS DOUBLE)) /
        |      (root + CAST(sg AS DOUBLE)), 6)
        |  END AS b
        |FROM d ORDER BY 1""".stripMargin,

    // first/last picks via ordered row_number; explicit lexicographic
    // (t, id) compare mirrors the struct ordering
    "q_follows" ->
      """WITH base AS (SELECT user_id AS u, event_type AS a,
        |  epoch_us(ts) AS t, event_id AS i FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL AND event_id IS NOT NULL),
        |f AS (SELECT u, a, t, i FROM (SELECT u, a, t, i,
        |  row_number() OVER (PARTITION BY u, a ORDER BY t, i) AS rn
        |  FROM base) WHERE rn = 1),
        |l AS (SELECT u, a, t, i FROM (SELECT u, a, t, i,
        |  row_number() OVER (PARTITION BY u, a ORDER BY t DESC, i DESC)
        |    AS rn FROM base) WHERE rn = 1),
        |p AS (SELECT f.a AS a, l.a AS b,
        |  CASE WHEN f.t < l.t OR (f.t = l.t AND f.i < l.i)
        |    THEN 1 ELSE 0 END AS fl
        |  FROM f JOIN l ON f.u = l.u AND f.a <> l.a)
        |SELECT a, b, CAST(count(*) AS BIGINT) AS n_both,
        |  CAST(sum(fl) AS BIGINT) AS n_follows,
        |  CAST(sum(fl) * 1000000 // count(*) AS BIGINT) AS support_ppm
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same lead pairs; integer-rounded n·ln(nf/n) micro terms
    "q_markov_entropy" ->
      """WITH p AS (SELECT event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t
        |  FROM events),
        |c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE f IS NOT NULL AND t IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT f, CAST(sum(n) AS BIGINT) AS nf FROM c GROUP BY 1),
        |terms AS (SELECT n,
        |  CAST(round(n * ln(CAST(nf AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 1000000) AS BIGINT) AS t
        |  FROM c JOIN ft USING (f)),
        |ag AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT)
        |    AS n_transitions,
        |  CAST(COALESCE(sum(t), 0) AS BIGINT) AS h FROM terms),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k_states FROM ft)
        |SELECT n_transitions, k_states,
        |  CASE WHEN n_transitions > 0 THEN h // n_transitions END
        |    AS h_micros
        |FROM ag CROSS JOIN kk""".stripMargin,

    // Mirrors ewma: the same recurrence as a per-key linear recursion
    // (each CTE iteration advances every key by one row_number), with
    // the same `0.25·x + (1 - 0.25)·s` literal so the IEEE chain is
    // operation-for-operation identical to the Spark fold.
    "q_ewma" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn, value AS s FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn, 0.25 * e.value + (1 - 0.25) * r.s
        |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT event_id, user_id, s AS ewma FROM r""".stripMargin,

    // Mirrors rollingZscore: cents-exact trailing sums, one IEEE op
    // shape for z, integer zero-variance/min-periods guards.
    "q_zscore" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w AS (SELECT event_id, x,
        |    count(x) OVER win AS n, sum(x) OVER win AS s, sum(x * x) OVER win AS q
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, z, COALESCE(abs(z) > 2.0, FALSE) AS is_anomaly FROM (
        |  SELECT event_id,
        |    CASE WHEN n >= 5 AND n * q - s * s > 0 THEN
        |      CAST(n * x - s AS DOUBLE) / sqrt(CAST(n * q - s * s AS DOUBLE)
        |        * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |    END AS z
        |  FROM w)""".stripMargin,

    "q_kcore" -> kCoreOracle(2, 5),

    "q_hits" -> hitsOracle(2),

    "q_lpa" -> lpaOracle(3),

    "q_sssp" -> ssspOracle(4),

    "q_jlproj" -> jlOracle(64, 8),

    // Mirrors triangleCounts over the q_cooccur edge set: (deg, id)
    // orientation, wedge join + closure semi-check, per-node explode.
    "q_centralization" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b
        |  HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e AS (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |      ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(coalesce(sum(d), 0) AS BIGINT) AS sumd,
        |  CAST(coalesce(max(d), 0) AS BIGINT) AS dmax FROM deg)
        |SELECT n_nodes, CAST(sumd // 2 AS BIGINT) AS n_edges, dmax,
        |  CASE WHEN n_nodes >= 2 THEN
        |    CAST(CAST(sumd AS HUGEINT) * 1000000
        |      // (CAST(n_nodes AS HUGEINT) * (n_nodes - 1)) AS BIGINT)
        |  END AS density_ppm,
        |  CASE WHEN n_nodes >= 3 THEN
        |    CAST((CAST(n_nodes AS HUGEINT) * dmax - sumd) * 1000000
        |      // (CAST(n_nodes - 1 AS HUGEINT) * (n_nodes - 2)) AS BIGINT)
        |  END AS centralization_ppm
        |FROM a""".stripMargin,

    "q_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e AS (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |      ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |ori AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |  WHERE EXISTS (SELECT 1 FROM ori e3 WHERE e3.s = e1.s AND e3.t = e2.t)),
        |pernode AS (SELECT node, count(*) AS n_tri FROM
        |  (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT node, d AS degree, n_tri,
        |  CAST(n_tri * 2 AS DOUBLE) / CAST(d * (d - 1) AS DOUBLE) AS clustering
        |FROM pernode JOIN deg ON pernode.node = deg.n""".stripMargin,

    // same co-purchase edges; HUGEINT cleared-mean z products
    "q_moran" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e AS (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |      ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |vals AS (SELECT p_partkey AS nd,
        |  max(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS x
        |  FROM part WHERE p_partkey IS NOT NULL
        |    AND p_retailprice IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(x::HUGEINT) AS s FROM vals),
        |z AS (SELECT nd, tot.n, x, tot.n::HUGEINT * x - s AS zz
        |  FROM vals CROSS JOIN tot),
        |den AS (SELECT max(n) AS n, COALESCE(sum(zz * zz), 0) AS q
        |  FROM z),
        |num AS (SELECT CAST(count(*) AS BIGINT) AS e,
        |  COALESCE(sum(zu.zz * zv.zz), 0) AS p,
        |  COALESCE(sum((zu.x::HUGEINT - zv.x) * (zu.x - zv.x)), 0) AS g
        |  FROM e JOIN z zu ON e.u = zu.nd JOIN z zv ON e.v = zv.nd)
        |SELECT CAST(n AS BIGINT) AS n, e,
        |  CAST(CASE WHEN n >= 2 THEN -(1000000 // (n - 1)) END AS BIGINT)
        |    AS ei_micros,
        |  CASE WHEN e > 0 AND q > 0 THEN
        |    round(CAST(n::HUGEINT * p AS DOUBLE) /
        |      CAST(e::HUGEINT * q AS DOUBLE), 6)
        |  END AS moran_i,
        |  CASE WHEN e > 0 AND q > 0 THEN
        |    round(CAST((n::HUGEINT - 1) * n * n * g AS DOUBLE) /
        |      CAST(2 * e::HUGEINT * q AS DOUBLE), 6)
        |  END AS geary_c
        |FROM den CROSS JOIN num""".stripMargin,

    // same undirected edge/degree frames; per-threshold conditional
    // counts off one pass each, ppm floors
    "q_rich_club" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e AS (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |      ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |ed AS (SELECT least(du.d, dv.d) AS dmin
        |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |rr AS (SELECT CAST(r AS BIGINT) AS r FROM
        |  (VALUES (1), (2), (4), (8)) AS tv(r)),
        |nn AS (SELECT r, CAST(count(CASE WHEN d > r THEN 1 END) AS BIGINT)
        |  AS club_nodes FROM rr CROSS JOIN deg GROUP BY 1),
        |ee AS (SELECT r, CAST(count(CASE WHEN dmin > r THEN 1 END)
        |  AS BIGINT) AS club_edges FROM rr CROSS JOIN ed GROUP BY 1)
        |SELECT nn.r, club_nodes, club_edges,
        |  CAST(CASE WHEN club_nodes >= 2 THEN
        |    club_edges * 2 * 1000000 // (club_nodes * (club_nodes - 1))
        |  END AS BIGINT) AS phi_ppm
        |FROM nn JOIN ee ON nn.r = ee.r ORDER BY 1""".stripMargin,

    // same oriented-join triangle core closed to one summary row
    "q_clustering_coef" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (SELECT b FROM items GROUP BY b HAVING count(*) BETWEEN 2 AND 1024),
        |kept AS (SELECT items.b, items.i FROM items JOIN sz USING (b)),
        |e AS (SELECT a.i AS u, b.i AS v FROM kept a JOIN kept b
        |      ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |ori AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |  WHERE EXISTS (SELECT 1 FROM ori e3 WHERE e3.s = e1.s AND e3.t = e2.t)),
        |pernode AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
        |  (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY node),
        |fil AS (SELECT deg.d, COALESCE(pernode.n_tri, 0) AS t
        |  FROM deg LEFT JOIN pernode ON deg.n = pernode.node),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nodes_d2,
        |  CAST(sum(t) AS BIGINT) AS t3,
        |  CAST(sum(d * (d - 1)) AS BIGINT) AS w2,
        |  CAST(sum(CASE WHEN d >= 2 THEN t * 2 * 1000000 // (d * (d - 1))
        |    END) AS BIGINT) AS ccsum
        |  FROM fil)
        |SELECT n_nodes, n_nodes_d2, CAST(t3 // 3 AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN w2 > 0 THEN t3 * 2 * 1000000 // w2 END AS BIGINT)
        |    AS transitivity_ppm,
        |  CAST(CASE WHEN n_nodes_d2 > 0 THEN ccsum // n_nodes_d2 END
        |    AS BIGINT) AS avg_cc_ppm
        |FROM ag""".stripMargin,

    // Mirrors scd2Merge branch-for-branch: closed versions pass
    // through outside the join; the full-outer join of the current
    // slice vs the snapshot classifies keep/close/open with null-safe
    // attr equality.
    "q_scd2" ->
      """WITH c AS (SELECT c_custkey AS k, c_name AS name,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
        |hist AS (
        |  SELECT k, name, bal, CAST(0 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to FROM c
        |  UNION ALL
        |  SELECT k, name, CAST(bal - 50.00 AS DECIMAL(18,2)),
        |    CAST(-100 AS BIGINT), CAST(0 AS BIGINT) FROM c WHERE k % 10 = 0),
        |snap AS (
        |  SELECT k, name, CASE WHEN k % 7 = 0 THEN CAST(bal + 100.00 AS DECIMAL(18,2))
        |    ELSE bal END AS bal FROM c WHERE k % 3 <> 0
        |  UNION ALL
        |  SELECT k + 1000000, 'NEW#' || CAST(k AS VARCHAR),
        |    CAST(0.00 AS DECIMAL(18,2)) FROM c WHERE k % 11 = 0),
        |cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
        |closed AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
        |j AS (SELECT cur.k AS ck, cur.name AS cn, cur.bal AS cb,
        |    cur.valid_from AS cvf, snap.k AS sk, snap.name AS sn, snap.bal AS sb
        |  FROM cur FULL OUTER JOIN snap ON cur.k = snap.k)
        |SELECT ck AS k, cn AS name, CAST(cb AS DOUBLE) AS bal, cvf AS valid_from,
        |  CAST(CASE WHEN sk IS NULL THEN 100
        |    WHEN (cn IS NOT DISTINCT FROM sn) AND (cb IS NOT DISTINCT FROM sb) THEN NULL
        |    ELSE 100 END AS BIGINT) AS valid_to
        |FROM j WHERE ck IS NOT NULL
        |UNION ALL
        |SELECT sk, sn, CAST(sb AS DOUBLE), CAST(100 AS BIGINT), CAST(NULL AS BIGINT) FROM j
        |WHERE sk IS NOT NULL AND (ck IS NULL
        |  OR NOT ((cn IS NOT DISTINCT FROM sn) AND (cb IS NOT DISTINCT FROM sb)))
        |UNION ALL
        |SELECT k, name, CAST(bal AS DOUBLE), valid_from, valid_to FROM closed""".stripMargin,

    // The exact same priority ranks: md5 uniform // weight, k smallest
    // per language with the (rank, doc_id) tiebreak.
    "q_weighted_sample" ->
      """WITH r AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS w,
        |    CAST(CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS UBIGINT) AS BIGINT) AS u
        |  FROM documents),
        |rk AS (SELECT doc_id, lang, w, u // w AS sample_rank FROM r WHERE w > 0),
        |rn AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY sample_rank, doc_id) AS _rn FROM rk)
        |SELECT doc_id, lang, w, sample_rank FROM rn WHERE _rn <= 20""".stripMargin,

    // Per-key generate_series spine, left join, IGNORE NULLS running
    // last_value for LOCF — integer grid, exact decimals.
    "q_gapfill" ->
      """WITH weekly AS (SELECT o_custkey % 97 AS k,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS tick,
        |    count(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price
        |  FROM orders GROUP BY 1, 2),
        |spine AS (SELECT k, unnest(generate_series(min(tick), max(tick))) AS tick
        |  FROM weekly GROUP BY k)
        |SELECT spine.k AS k, spine.tick AS tick,
        |  CAST(COALESCE(w.n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(last_value(w.sum_price IGNORE NULLS) OVER (PARTITION BY spine.k
        |    ORDER BY spine.tick ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_price,
        |  (w.k IS NULL) AS is_gap
        |FROM spine LEFT JOIN weekly w ON spine.k = w.k AND spine.tick = w.tick""".stripMargin,

    // Boundaries via quantile_cont (== Spark percentile, proven by
    // q_percentile), then the same strict-compare chain.
    "q_quantile_bins" ->
      """WITH b AS (SELECT quantile_cont(value, 0.25) AS q0,
        |    quantile_cont(value, 0.5) AS q1, quantile_cont(value, 0.75) AS q2
        |  FROM events)
        |SELECT event_id, value,
        |  CASE WHEN value IS NULL THEN NULL ELSE
        |    CAST(value > q0 AS BIGINT) + CAST(value > q1 AS BIGINT)
        |    + CAST(value > q2 AS BIGINT) END AS bin
        |FROM events CROSS JOIN b""".stripMargin,

    // Bin on unscaled cents with bigint div; densify on a
    // generate_series spine per group so zero bins surface.
    "q_histogram" ->
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi
        |  FROM lineitem),
        |binned AS (SELECT rf, (vi - 90000) // 500000 AS bin, count(*) AS cnt
        |  FROM b WHERE vi >= 90000 AND vi < 90000 + 500000 * 21 GROUP BY 1, 2),
        |spine AS (SELECT rf, unnest(generate_series(0, 20)) AS bin
        |  FROM (SELECT DISTINCT rf FROM b))
        |SELECT spine.rf AS rf, CAST(spine.bin AS BIGINT) AS bin,
        |  CAST(CAST(900.00 + 5000.00 * spine.bin AS DECIMAL(18,2)) AS DOUBLE) AS bin_lo,
        |  CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt
        |FROM spine LEFT JOIN binned
        |  ON spine.rf = binned.rf AND spine.bin = binned.bin""".stripMargin,

    // Exact partial sums, then the SAME double-arithmetic shapes as
    // the Spark side — identical inputs + identical IEEE ops =
    // identical bits, even for r2. The decimal→double casts go VIA
    // VARCHAR: DuckDB's direct decimal→double double-rounds (int128
    // unscaled → double, then ÷10^scale — off by one ulp on Σy² here),
    // while string→double is correctly rounded, matching the JVM's
    // BigDecimal.doubleValue exactly.
    "q_trend_fit" ->
      """WITH b AS (SELECT o_orderpriority AS prio,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS y FROM orders),
        |a AS (SELECT prio, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
        |      FROM b GROUP BY prio),
        |d AS (SELECT prio, n,
        |  CAST(n AS DOUBLE) AS nd,
        |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
        |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        |  CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
        |  FROM a)
        |SELECT prio, n,
        |  CASE WHEN nd*sxxd - sxd*sxd = 0 THEN NULL
        |       ELSE (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) END AS slope,
        |  CASE WHEN nd*sxxd - sxd*sxd = 0 THEN NULL
        |       ELSE (syd - ((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd)) * sxd) / nd
        |       END AS intercept,
        |  CASE WHEN nd*sxxd - sxd*sxd = 0 OR nd*syyd - syd*syd = 0 THEN NULL
        |       ELSE (nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd)
        |            / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)) END AS r2
        |FROM d""".stripMargin,

    // TrustRank = the PageRank CTE chain with the base term masked by
    // seed membership (is_seed in {0,1}); two iterations.
    "q_trustrank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |vertbase AS (SELECT DISTINCT src AS node FROM edges
        |             UNION SELECT DISTINCT dst AS node FROM edges),
        |seeds AS (SELECT DISTINCT 's:' || s_suppkey AS node FROM supplier
        |          JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'),
        |v AS (SELECT vb.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
        |      FROM vertbase vb LEFT JOIN seeds s ON vb.node = s.node),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |it0 AS (SELECT node, CAST(1000000000 * is_seed AS BIGINT) AS score FROM v),
        |inf1 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
        |  FROM edges e JOIN it0 sc ON e.src = sc.node JOIN outdeg od ON e.src = od.src
        |  GROUP BY e.dst),
        |it1 AS (SELECT v.node, 150000000 * v.is_seed + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM v LEFT JOIN inf1 i ON v.node = i.dst),
        |inf2 AS (SELECT e.dst, CAST(SUM(sc.score // od.deg) AS BIGINT) AS f
        |  FROM edges e JOIN it1 sc ON e.src = sc.node JOIN outdeg od ON e.src = od.src
        |  GROUP BY e.dst),
        |it2 AS (SELECT v.node, 150000000 * v.is_seed + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM v LEFT JOIN inf2 i ON v.node = i.dst)
        |SELECT node, CAST(score AS BIGINT) AS score FROM it2""".stripMargin,

    // BFS as a bounded recursive CTE; UNION dedups (node, dist) pairs
    // and the dist < 3 guard caps recursion at maxHops. MIN(dist) per
    // node = first hop the frontier reached it.
    "q_hop_distance" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |bfs(node, dist) AS (
        |  SELECT 's:' || s_suppkey, 0 FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node
        |  WHERE b.dist < 3)
        |SELECT node, CAST(MIN(dist) AS INT) AS dist FROM bfs GROUP BY node""".stripMargin,

    // same tagged-long graph; one recursive tagged BFS, md5-ordered
    // seed draw, integer floors; top-k taken on the LONG node before
    // decoding (the Spark tie-break order)
    "q_betweenness" -> betweennessOracle(3),

    "q_graph_dist" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |verts AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges
        |   UNION ALL SELECT dst AS node FROM edges)),
        |seeds AS (SELECT node FROM verts
        |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8),
        |bfs(seed, node, dist) AS (
        |  SELECT node, node, 0 FROM seeds
        |  UNION
        |  SELECT b.seed, e.dst, b.dist + 1 FROM bfs b
        |  JOIN edges e ON e.src = b.node WHERE b.dist < 3),
        |md AS (SELECT seed, node, MIN(dist) AS dist FROM bfs GROUP BY 1, 2),
        |m AS (SELECT dist FROM md WHERE dist > 0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(MAX(dist) AS BIGINT) AS diameter_lb,
        |    SUM(dist) AS sumd FROM m),
        |byd AS (SELECT dist, count(*) AS c FROM m GROUP BY dist),
        |cdf AS (SELECT a.dist AS da, SUM(b.c) AS cum
        |  FROM byd a JOIN byd b ON b.dist <= a.dist GROUP BY 1),
        |e50 AS (SELECT CAST(MIN(da) AS BIGINT) AS eff_d50
        |  FROM cdf CROSS JOIN tot WHERE cum * 2 >= n_pairs),
        |e90 AS (SELECT CAST(MIN(da) AS BIGINT) AS eff_d90
        |  FROM cdf CROSS JOIN tot WHERE cum * 10 >= n_pairs * 9)
        |SELECT 8 AS n_seeds, n_pairs, diameter_lb, eff_d50, eff_d90,
        |  CAST(sumd * 1000000 // n_pairs AS BIGINT) AS mean_dist_ppm
        |FROM tot CROSS JOIN e50 CROSS JOIN e90""".stripMargin,

    "q_harmonic" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |verts AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges
        |   UNION ALL SELECT dst AS node FROM edges)),
        |seeds AS (SELECT node FROM verts
        |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8),
        |bfs(seed, node, dist) AS (
        |  SELECT node, node, 0 FROM seeds
        |  UNION
        |  SELECT b.seed, e.dst, b.dist + 1 FROM bfs b
        |  JOIN edges e ON e.src = b.node WHERE b.dist < 3),
        |md AS (SELECT seed, node, MIN(dist) AS dist FROM bfs GROUP BY 1, 2),
        |h AS (SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_ppm
        |  FROM md WHERE dist > 0 GROUP BY node),
        |topk AS (SELECT * FROM h
        |  ORDER BY harmonic_ppm DESC, node LIMIT 50)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
        |  ELSE 's:' || (node // 2) END AS node, n_reached, harmonic_ppm
        |FROM topk""".stripMargin,

    "q_heavy_hitters" ->
      """WITH c AS (SELECT lang, count(*) AS n_exact FROM documents GROUP BY lang),
        |t AS (SELECT count(*) AS t FROM documents)
        |SELECT lang, n_exact, TRUE AS found_ok, TRUE AS bound_ok
        |FROM c, t WHERE n_exact > t / 3.0""".stripMargin,

    "q_sim_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(cv)),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END AS cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC, neighbor_id)
        |    AS INTEGER) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id,
         |CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         |CAST(len($W) AS INTEGER) AS n_words,
         |list_reduce(list_prepend(0::BIGINT,
         |  list_transform($W, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))),
         |  (a, x) -> a + x) AS n_subwords,
         |CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
         |     WHEN en = greatest(en, es, de, fr) THEN 'en'
         |     WHEN es = greatest(en, es, de, fr) THEN 'es'
         |     WHEN de = greatest(en, es, de, fr) THEN 'de'
         |     ELSE 'fr' END AS lang_id,
         |round((
         |  least(len($W) / 50.0, 1.0) +
         |  (CASE WHEN (CASE WHEN len($W) = 0 THEN 0.0
         |     ELSE length(regexp_replace(text, '\\s', '', 'g')) / CAST(len($W) AS DOUBLE) END)
         |     BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) +
         |  (CASE WHEN (CASE WHEN len($W) = 0 THEN 0.0
         |     ELSE len(list_filter($W, w -> w IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE / len($W) END)
         |     BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
         |) / 3.0, 4) AS quality,
         |list_reduce(list_prepend(0::BIGINT,
         |  list_transform(list_filter(regexp_split_to_array($NormalizedText, ''), ch -> len(ch) > 0),
         |    ch -> CAST(ascii(ch) AS BIGINT))),
         |  (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
         |FROM (SELECT doc_id, text,
         |  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in|that|it)\\b')) AS en,
         |  len(regexp_extract_all(lower(text), '\\b(el|la|los|las|que|de|en|es|una?)\\b')) AS es,
         |  len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|zu)\\b')) AS de,
         |  len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une?|et|dans|que)\\b')) AS fr
         |  FROM documents)""".stripMargin,

    "q_lang_hist" ->
      """SELECT CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |     WHEN en = greatest(en, es, de, fr) THEN 'en'
        |     WHEN es = greatest(en, es, de, fr) THEN 'es'
        |     WHEN de = greatest(en, es, de, fr) THEN 'de'
        |     ELSE 'fr' END AS lang_id, count(*) AS n
        |FROM (SELECT
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it)\b')) AS en,
        |  len(regexp_extract_all(lower(text), '\b(el|la|los|las|que|de|en|es|una?)\b')) AS es,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS de,
        |  len(regexp_extract_all(lower(text), '\b(le|les|des|est|une?|et|dans|que)\b')) AS fr
        |  FROM documents) GROUP BY 1""".stripMargin,

    // Closed-form url oracles: the canonical form is recomputed from
    // the generating columns, never parsed — see messyUrl's scaladoc.
    "q_url_norm" ->
      """SELECT doc_id,
        |  'http://' || source || '.example.com/d/' ||
        |  CAST(doc_id % 97 AS VARCHAR) || '?a=1&b=2' AS url_norm
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL""".stripMargin,

    "q_url_domain" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS host,
        |  source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS domain
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL""".stripMargin,

    "q_html_text" ->
      """SELECT doc_id,
        |  source || ' ' || upper(source) || ' x & y <z> ok ' || text AS body
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND text IS NOT NULL""".stripMargin,

    "q_html_links" ->
      """SELECT doc_id, 0::BIGINT AS link_idx,
        |  'http://' || source || '.example.com/d/' ||
        |    CAST(doc_id % 50 AS VARCHAR) AS href
        |FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |UNION ALL
        |SELECT doc_id, 1::BIGINT AS link_idx,
        |  '/rel/' || CAST(doc_id % 7 AS VARCHAR) AS href
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND doc_id % 2 = 0""".stripMargin,

    "q_web_graph" ->
      """SELECT
        |  'http://' || source || '.example.com/d/' ||
        |    CAST(doc_id % 50 AS VARCHAR) || '?a=1' AS target,
        |  count(*) AS indegree
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_web_graph_rel" ->
      """SELECT target, count(*) AS indegree FROM (
        |  SELECT 'http://' || source || '.example.com/abs/' ||
        |    CAST(doc_id % 50 AS VARCHAR) AS target
        |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  UNION ALL
        |  SELECT 'http://' || source || '.example.com' ||
        |    (CASE doc_id % 4 WHEN 0 THEN '/a/b/d/' WHEN 1 THEN '/a/b/e/'
        |      WHEN 2 THEN '/a/f/' ELSE '/g/' END) ||
        |    CAST(doc_id % 7 AS VARCHAR) AS target
        |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |) GROUP BY 1""".stripMargin,

    "q_warc" ->
      """SELECT doc_id,
        |  unnest(generate_series(0, (doc_id % 3)::BIGINT)) AS record_idx,
        |  'response' AS warc_type,
        |  'http://' || source || '.example.com/d/' ||
        |    CAST(doc_id AS VARCHAR) AS target_uri,
        |  length(text)::BIGINT AS content_length,
        |  md5(text) AS payload_md5
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND text IS NOT NULL""".stripMargin,

    "q_warc_pipeline" ->
      """SELECT doc_id,
        |  unnest(generate_series(0, (doc_id % 2)::BIGINT)) AS record_idx,
        |  CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,
        |  'http://' || source || '.example.com/d/' ||
        |    CAST(doc_id % 97 AS VARCHAR) || '?a=1&b=2' AS url_norm,
        |  text || ' résumé' AS body
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND text IS NOT NULL""".stripMargin,

    "q_http_response" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301 ELSE 404 END
        |    AS status,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=iso-8859-1'
        |    END AS content_type,
        |  CASE WHEN doc_id % 5 < 2 THEN 'chunked' END AS transfer_encoding,
        |  text || ' café' AS body
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin,

    "q_charset" ->
      """SELECT doc_id, 'iso-8859-1' AS charset,
        |  text || ' café naïve' AS body
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin,

    "q_robots" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'GraftBot/1.0'
        |       ELSE 'randombot' END AS agent,
        |  CASE doc_id % 4
        |    WHEN 0 THEN '/private/pub' || CAST(doc_id % 5 AS VARCHAR)
        |    WHEN 1 THEN '/private/x.tmp'
        |    WHEN 2 THEN '/graft/data'
        |    ELSE '/ok/page' END AS path,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id % 4 <> 2)
        |       ELSE (doc_id % 4 <> 1) END AS allowed
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,

    "q_sitemap" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_maps,
        |  unnest(generate_series(0, (doc_id % 3)::BIGINT)) AS loc_idx,
        |  'http://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' ||
        |    CAST(unnest(generate_series(0, (doc_id % 3)::BIGINT)) AS VARCHAR)
        |    || '?a=1&b=2' AS loc
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,

    "q_sitemap_gz" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_children,
        |  'http://d' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.com/sm0.xml.gz' AS child0,
        |  unnest(generate_series(0, (doc_id % 3)::BIGINT)) AS loc_idx,
        |  'http://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' ||
        |    CAST(unnest(generate_series(0, (doc_id % 3)::BIGINT)) AS VARCHAR)
        |    || '?a=1&b=2' AS url_norm
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,

    "q_frontier" ->
      """WITH edges AS (
        |  SELECT doc_id,
        |    'http://' || source || '.example.com/abs/' ||
        |      CAST(doc_id % 50 AS VARCHAR) AS target,
        |    '/abs/' || CAST(doc_id % 50 AS VARCHAR) AS path
        |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id,
        |    'http://' || source || '.example.com' ||
        |      (CASE doc_id % 4 WHEN 0 THEN '/a/b/d/' WHEN 1 THEN '/a/b/e/'
        |        WHEN 2 THEN '/a/f/' ELSE '/g/' END) ||
        |      CAST(doc_id % 7 AS VARCHAR) AS target,
        |    (CASE doc_id % 4 WHEN 0 THEN '/a/b/d/' WHEN 1 THEN '/a/b/e/'
        |      WHEN 2 THEN '/a/f/' ELSE '/g/' END) ||
        |      CAST(doc_id % 7 AS VARCHAR) AS path
        |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |), allowed AS (
        |  SELECT doc_id, target FROM edges
        |  WHERE NOT (path LIKE '/g/%' AND path <> '/g/3')
        |), dedup AS (
        |  SELECT target, min(doc_id) AS discovered_by, count(*) AS n_refs,
        |    split_part(target, '/', 3) AS host
        |  FROM allowed GROUP BY 1
        |)
        |SELECT host, target, discovered_by, n_refs, rank FROM (
        |  SELECT host, target, discovered_by, n_refs,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY target)
        |      AS INT) AS rank
        |  FROM dedup)
        |WHERE rank <= 20""".stripMargin,

    // q_image_pipeline: same closed form as q_decode_png — the whole
    // warc/envelope/route chain in between must be byte-lossless.
    "q_image_pipeline" ->
      """SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS INTEGER) AS width,
        |  CAST((n_chars % 7) + 1 AS INTEGER) AS height,
        |  'png' AS format,
        |  CAST(doc_id % 256 AS BIGINT) AS px_mean
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id >= 0 AND source IS NOT NULL
        |  AND n_chars IS NOT NULL AND n_chars >= 0""".stripMargin,

    "q_warc_mixed" ->
      """SELECT doc_id,
        |  (1 + (doc_id % 2 = 0)::INT + (doc_id % 3 = 0)::INT +
        |    (doc_id % 5 = 0)::INT)::BIGINT AS n_records,
        |  ((doc_id % 2 = 0)::INT + (doc_id % 3 = 0)::INT +
        |    (doc_id % 5 = 0)::INT)::BIGINT AS n_non_response,
        |  1::BIGINT AS n_html,
        |  (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS response_idx,
        |  text || ' mixed' AS body
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND text IS NOT NULL""".stripMargin,

    "q_mime_route" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'application/json' WHEN 3 THEN 'text/html'
        |    ELSE 'text/plain' END AS mime,
        |  CASE WHEN doc_id % 7 = 0 THEN 'non_response'
        |    WHEN doc_id % 11 = 5 THEN 'reject'
        |    WHEN doc_id % 5 = 3 THEN 'reject'
        |    WHEN doc_id % 5 = 2 THEN 'other'
        |    WHEN doc_id % 5 = 0 THEN 'html'
        |    WHEN doc_id % 5 = 4 THEN 'text'
        |    ELSE 'image' END AS route,
        |  CASE WHEN doc_id % 7 = 0 THEN 'non_response'
        |    WHEN doc_id % 11 = 5 THEN 'bad_url'
        |    WHEN doc_id % 5 = 3 THEN 'undecodable_body'
        |    WHEN doc_id % 5 = 2 THEN 'unrouted_mime'
        |    END AS reason,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 5 AND doc_id % 5 = 0
        |    THEN text || ' résumé'
        |    WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 5 AND doc_id % 5 = 4
        |    THEN text END AS body,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 5 AND doc_id % 5 = 1
        |    THEN md5(text) END AS image_md5
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  AND text IS NOT NULL""".stripMargin,

    "q_url_dedup" ->
      """SELECT
        |  'http://' || source || '.example.com/d/' ||
        |  CAST(doc_id % 97 AS VARCHAR) || '?a=1&b=2' AS url_norm,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_para_dedup" ->
      s"""WITH docs AS (SELECT doc_id, $W AS ws FROM documents),
         |starts AS (SELECT doc_id, ws,
         |  unnest(generate_series(1,
         |    ((greatest(ceil((len(ws) - 30) / 30.0) + 1, 1) - 1) * 30 + 1)::BIGINT,
         |    30)) AS s
         |  FROM docs),
         |p AS (SELECT doc_id, ((s - 1) // 30)::BIGINT AS pos,
         |  array_to_string(ws[s:s+29], ' ') AS para FROM starts),
         |k AS (SELECT doc_id, pos, para FROM p
         |  QUALIFY row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1)
         |SELECT doc_id, count(*) AS n_kept,
         |  md5(string_agg(para, ' ' ORDER BY pos)) AS text_md5
         |FROM k GROUP BY doc_id""".stripMargin,

    "q_boilerplate" ->
      s"""WITH docs AS (SELECT doc_id, $W AS ws FROM documents),
         |starts AS (SELECT doc_id, ws,
         |  unnest(generate_series(1,
         |    ((greatest(ceil((len(ws) - 30) / 30.0) + 1, 1) - 1) * 30 + 1)::BIGINT,
         |    30)) AS s
         |  FROM docs),
         |p AS (SELECT doc_id, ((s - 1) // 30)::BIGINT AS pos,
         |  array_to_string(ws[s:s+29], ' ') AS para FROM starts),
         |hot AS (SELECT md5(para) AS f FROM p
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |k AS (SELECT doc_id, pos, para FROM p
         |  WHERE md5(para) NOT IN (SELECT f FROM hot))
         |SELECT doc_id, count(*) AS n_kept,
         |  md5(string_agg(para, ' ' ORDER BY pos)) AS text_md5
         |FROM k GROUP BY doc_id""".stripMargin,

    "q_jaro_link" ->
      """WITH dirty AS (
        |  SELECT c_custkey AS d_custkey, c_nationkey AS d_nationkey,
        |         substr(c_name, 1, CAST(c_custkey % 8 + 9 AS INT)) ||
        |         substr(c_name, CAST(c_custkey % 8 + 11 AS INT)) AS d_name
        |  FROM customer)
        |SELECT c.c_custkey, d.d_custkey,
        |       jaro_winkler_similarity(c.c_name, d.d_name) AS jw_sim
        |FROM customer c JOIN dirty d ON c.c_nationkey = d.d_nationkey
        |WHERE jaro_winkler_similarity(c.c_name, d.d_name) >= 0.975""".stripMargin,

    "q_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
         |l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem)
         |SELECT l_orderkey, l_linenumber, x, y,
         |CAST($terms AS BIGINT) AS zval FROM b""".stripMargin
    },

    // Cascaded greedy funnel in the microsecond domain (matching the
    // Spark side's cast-to-timestamp truncation BEFORE comparisons, so
    // sub-microsecond parquet precision can never flip a strict `>`).
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.us) AS t1 FROM e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.us > s0.t0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN t3 IS NOT NULL THEN 4 WHEN t2 IS NOT NULL THEN 3
        |       WHEN t1 IS NOT NULL THEN 2 WHEN t0 IS NOT NULL THEN 1
        |       ELSE 0 END AS steps_done,
        |  t0 AS t0_us, coalesce(t3, t2, t1, t0) AS t_end_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    "q_funnel_window" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, s0.t0, min(e.us) AS t1 FROM e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.us > s0.t0
        |         AND e.us - s0.t0 <= 259200000000 GROUP BY 1, 2),
        |s2 AS (SELECT e.user_id, s1.t0, min(e.us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s1.t1
        |         AND e.us - s1.t0 <= 259200000000 GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2
        |         AND e.us - s2.t0 <= 259200000000 GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN t3 IS NOT NULL THEN 4 WHEN t2 IS NOT NULL THEN 3
        |       WHEN t1 IS NOT NULL THEN 2 WHEN s0.t0 IS NOT NULL THEN 1
        |       ELSE 0 END AS steps_done,
        |  s0.t0 AS t0_us, coalesce(t3, t2, t1, s0.t0) AS t_end_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    "q_cohort" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1)
        |SELECT date_trunc('week', f.first_ts)::DATE AS cohort_week,
        |  CAST((e.ts::DATE - f.first_ts::DATE) // 7 AS BIGINT) AS week_no,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q_paths" ->
      """WITH e AS (SELECT event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
        |FROM e WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |CAST((length(text) % 512) + 64 AS INTEGER) AS width,
        |CAST((length(text) % 384) + 64 AS INTEGER) AS height,
        |'stub' AS format
        |FROM documents""".stripMargin,

    "q_frames" ->
      """SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |fi * greatest(length(text) // 4, 1) AS frame_offset
        |FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS fi)""".stripMargin,

    // same frame slicing; md5 signature arithmetic mirrored
    "q_frame_features" ->
      """WITH f AS (SELECT doc_id,
        |  substr(text, CAST(fi * greatest(length(text) // 4, 1) + 1 AS BIGINT), 16)
        |    AS fb
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS fi)),
        |s AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(fb), 1, 8))::UBIGINT AS BIGINT) AS sig
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(count(DISTINCT sig) AS BIGINT) AS n_distinct_frames,
        |  CAST(max(sig) AS BIGINT) AS max_energy,
        |  CAST(sum(sig) AS BIGINT) AS energy_sum
        |FROM s GROUP BY doc_id""".stripMargin,

    // same md5 frame signatures; lag gaps, cumulative-cut run ids
    "q_scene_cuts" ->
      """WITH f AS (SELECT doc_id, fi,
        |  substr(text, CAST(fi * greatest(length(text) // 8, 1) + 1
        |    AS BIGINT), 16) AS fb
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS fi)),
        |s AS (SELECT doc_id, fi,
        |  CAST(('0x' || substr(md5(fb), 1, 8))::UBIGINT AS BIGINT) AS sig
        |  FROM f),
        |lg AS (SELECT doc_id, fi, sig,
        |  lag(sig) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
        |  FROM s),
        |ct AS (SELECT doc_id, fi,
        |  CASE WHEN prev IS NOT NULL AND abs(sig - prev) > 2147483648
        |    THEN 1 ELSE 0 END AS cut FROM lg),
        |sg AS (SELECT doc_id, sum(cut) OVER (PARTITION BY doc_id
        |  ORDER BY fi ROWS UNBOUNDED PRECEDING) AS seg FROM ct),
        |rl AS (SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS len
        |  FROM sg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_frames,
        |  CAST(count(*) - 1 AS BIGINT) AS n_cuts,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(max(len) AS BIGINT) AS max_segment_len
        |FROM rl GROUP BY 1""".stripMargin,

    "q_decode" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |CAST((length(text) % 512) + 64 AS INTEGER) AS width,
        |CAST((length(text) % 384) + 64 AS INTEGER) AS height,
        |'stub' AS format
        |FROM documents""".stripMargin,

    // q_decode_real: the REAL-decoder round-trip — the oracle knows the
    // construction formulas (dims/intensity from columns, the exact
    // 24bpp BMP size 54 + stride*h with 4-byte row padding), so any
    // deviation in imageio's decoded raster breaks the compare.
    "q_decode_real" ->
      """SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS INTEGER) AS width,
        |  CAST((n_chars % 7) + 1 AS INTEGER) AS height,
        |  'bmp' AS format,
        |  CAST(54 + ((((n_chars % 13) + 1) * 3 + 3) // 4) * 4 *
        |    ((n_chars % 7) + 1) AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 256 AS BIGINT) AS px_mean
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id >= 0
        |  AND n_chars IS NOT NULL AND n_chars >= 0""".stripMargin,

    // q_decode_png / q_decode_gif: lossless JDK round-trips — the
    // oracle pins dims, the SNIFFED container, and the exact decoded
    // mean; n_bytes is encoder-dependent and not emitted.
    "q_decode_png" ->
      """SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS INTEGER) AS width,
        |  CAST((n_chars % 7) + 1 AS INTEGER) AS height,
        |  'png' AS format,
        |  CAST(doc_id % 256 AS BIGINT) AS px_mean
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id >= 0
        |  AND n_chars IS NOT NULL AND n_chars >= 0""".stripMargin,

    "q_decode_gif" ->
      """SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS INTEGER) AS width,
        |  CAST((n_chars % 7) + 1 AS INTEGER) AS height,
        |  'gif' AS format,
        |  CAST(doc_id % 256 AS BIGINT) AS px_mean
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id >= 0
        |  AND n_chars IS NOT NULL AND n_chars >= 0""".stripMargin,

    // q_decode_jpeg: lossy — dims + sniffed format only (pixel
    // closeness is spec-bounded, not oracle-pinned).
    "q_decode_jpeg" ->
      """SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS INTEGER) AS width,
        |  CAST((n_chars % 7) + 1 AS INTEGER) AS height,
        |  'jpeg' AS format
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id >= 0
        |  AND n_chars IS NOT NULL AND n_chars >= 0""".stripMargin,

    "q_patches_real" ->
      """WITH m AS (SELECT doc_id,
        |  CAST((n_chars % 13) + 1 AS BIGINT) AS w,
        |  CAST((n_chars % 7) + 1 AS BIGINT) AS h FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id >= 0
        |    AND n_chars IS NOT NULL AND n_chars >= 0),
        |g AS (SELECT doc_id, w, h,
        |  unnest(generate_series(0, (w - 1) // 4)) AS px FROM m),
        |g2 AS (SELECT doc_id, w, h, px,
        |  unnest(generate_series(0, (h - 1) // 4)) AS py FROM g)
        |SELECT doc_id, px, py, px * 4 AS x0, py * 4 AS y0,
        |  least(4, w - px * 4) AS pw, least(4, h - py * 4) AS ph
        |FROM g2""".stripMargin,

    // q_decode_audio: the REAL-audio-decoder round-trip — the oracle
    // knows the wave construction (on/off square wave: sample i = amp
    // when (i div period) even, else 0; 44-byte WAV header + 2 bytes
    // per sample), so with g(x) = (x div 2p)·p + min(x mod 2p, p) it
    // recomputes nonzero count g(n), peak = amp, energy = g(n)·amp²
    // in closed form; any deviation in the decoded PCM breaks the
    // compare.
    "q_decode_audio" ->
      """WITH base AS (SELECT doc_id,
        |  (n_chars % 50) + 1 AS n, (doc_id % 1000) + 1 AS a,
        |  (n_chars % 5) + 1 AS p
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id >= 0
        |    AND n_chars IS NOT NULL AND n_chars >= 0),
        |z AS (SELECT doc_id, n, a, p,
        |  (n // (2*p)) * p + least(n % (2*p), p) AS nz FROM base)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(44 + 2*n AS BIGINT) AS n_bytes, 'wav' AS format,
        |  CAST(a AS BIGINT) AS peak, CAST(nz AS BIGINT) AS nz_samples,
        |  CAST(nz * a * a AS BIGINT) AS energy
        |FROM z""".stripMargin,

    // q_audio_frames: per-frame energies in closed form — frame f of
    // length L=8 covers [fL, min((f+1)L, n)), whose nonzero count is
    // g(hi) - g(lo), so frame energy = (g(hi) - g(lo))·amp².
    "q_audio_frames" ->
      """WITH base AS (SELECT doc_id,
        |  (n_chars % 50) + 1 AS n, (doc_id % 1000) + 1 AS a,
        |  (n_chars % 5) + 1 AS p
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id >= 0
        |    AND n_chars IS NOT NULL AND n_chars >= 0),
        |fr AS (SELECT doc_id, n, a, p,
        |  unnest(generate_series(0, ((n + 7) // 8) - 1)) AS f FROM base),
        |e AS (SELECT doc_id, a,
        |  ((least((f+1)*8, n) // (2*p)) * p + least(least((f+1)*8, n) % (2*p), p)
        |   - ((f*8 // (2*p)) * p + least((f*8) % (2*p), p))) * a * a AS fe
        |  FROM fr)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(max(a) AS BIGINT) AS peak,
        |  CAST(max(fe) AS BIGINT) AS max_frame_energy,
        |  CAST(sum(fe) AS BIGINT) AS total_energy
        |FROM e GROUP BY doc_id""".stripMargin,

    // q_audio_scenes: same closed-form frame energies; lag gaps at
    // threshold 0 (any energy change = a cut), cumulative-cut run ids
    // — the q_scene_cuts SQL shape over REAL energies.
    "q_audio_scenes" ->
      """WITH base AS (SELECT doc_id,
        |  (n_chars % 50) + 1 AS n, (doc_id % 1000) + 1 AS a,
        |  (n_chars % 5) + 1 AS p
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id >= 0
        |    AND n_chars IS NOT NULL AND n_chars >= 0),
        |fr AS (SELECT doc_id, n, a, p,
        |  unnest(generate_series(0, ((n + 7) // 8) - 1)) AS f FROM base),
        |e AS (SELECT doc_id, f,
        |  ((least((f+1)*8, n) // (2*p)) * p + least(least((f+1)*8, n) % (2*p), p)
        |   - ((f*8 // (2*p)) * p + least((f*8) % (2*p), p))) * a * a AS fe
        |  FROM fr),
        |lg AS (SELECT doc_id, f, fe,
        |  lag(fe) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM e),
        |ct AS (SELECT doc_id, f,
        |  CASE WHEN prev IS NOT NULL AND abs(fe - prev) > 0
        |    THEN 1 ELSE 0 END AS cut FROM lg),
        |sg AS (SELECT doc_id, sum(cut) OVER (PARTITION BY doc_id
        |  ORDER BY f ROWS UNBOUNDED PRECEDING) AS seg FROM ct),
        |rl AS (SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS len
        |  FROM sg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_frames,
        |  CAST(count(*) - 1 AS BIGINT) AS n_cuts,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(max(len) AS BIGINT) AS max_segment_len
        |FROM rl GROUP BY 1""".stripMargin,

    // The ordered stateful fold: replayed in DuckDB as a word-at-a-time
    // recursive CTE over the same global (doc_id, pos) order — emits a
    // line when the joined length exceeds 80, plus the final flush.
    "q_telegram" -> {
      val j = "CASE WHEN f.cur = '' THEN s.word ELSE f.cur || ' ' || s.word END"
      s"""WITH RECURSIVE seq AS (
         |  SELECT row_number() OVER (ORDER BY doc_id, pw.i) AS i, pw.w AS word FROM (
         |    SELECT doc_id, unnest(list_transform($W, (w, i) -> struct_pack(i := i, w := w))) AS pw
         |    FROM documents WHERE doc_id < 20)
         |),
         |f AS (
         |  SELECT 0::BIGINT AS i, 0::BIGINT AS line_id, '' AS cur,
         |    NULL::BIGINT AS out_id, NULL::VARCHAR AS out_line
         |  UNION ALL
         |  SELECT s.i,
         |    CASE WHEN len($j) > 80 THEN f.line_id + 1 ELSE f.line_id END,
         |    CASE WHEN len($j) > 80 THEN '' ELSE $j END,
         |    CASE WHEN len($j) > 80 THEN f.line_id ELSE NULL END,
         |    CASE WHEN len($j) > 80 THEN $j ELSE NULL END
         |  FROM f JOIN seq s ON s.i = f.i + 1
         |)
         |SELECT out_id AS line_id, out_line AS line FROM f WHERE out_line IS NOT NULL
         |UNION ALL
         |SELECT line_id, cur AS line FROM f
         |WHERE i = (SELECT count(*) FROM seq) AND cur <> ''""".stripMargin
    },

    "q_json" ->
      """SELECT event_type,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n FROM events GROUP BY event_type""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 10 AS bucket,
        |count(*) FILTER (WHERE event_type = 'click') AS click,
        |count(*) FILTER (WHERE event_type = 'error') AS "error",
        |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |count(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1""".stripMargin,

    "q_loop" ->
      """WITH RECURSIVE r(v) AS (
        |  SELECT n_nationkey + 1 AS v FROM nation
        |  UNION ALL
        |  SELECT v * 2 FROM r WHERE v * 2 <= 100
        |) SELECT v FROM r""".stripMargin,

    // one UNION-ALL branch per profiled column; the Spark side does it
    // in ONE scan (Expand), the oracle spells the naive form
    "q_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |count(*) - count($c) AS n_nulls,
           |count(DISTINCT $c) AS n_distinct,
           |CAST(min($c) AS VARCHAR) AS min_val,
           |CAST(max($c) AS VARCHAR) AS max_val FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "l_shipdate").map(branch).mkString("\nUNION ALL\n")
    },

    "q_rank_eval" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($W) AS term FROM documents) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |scored AS (SELECT doc_id, term AS query, tf,
         |  round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
         |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
         |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats
         |  WHERE term IN ('spark', 'window', 'join')),
         |ranked AS (SELECT query, doc_id,
         |  row_number() OVER (PARTITION BY query ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |rel AS (SELECT query, doc_id, tf AS rel FROM scored WHERE tf >= 2),
         |hits AS (SELECT r.query, r.rank, coalesce(rel.rel, 0) AS gain
         |  FROM ranked r LEFT JOIN rel ON r.query = rel.query AND r.doc_id = rel.doc_id),
         |acc AS (SELECT query,
         |  sum(CAST(round(CAST(gain AS DOUBLE) / ln(CAST(rank AS DOUBLE) + 1.0), 6)
         |      AS DECIMAL(18,6))) AS dcg,
         |  coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN gain > 0 THEN rank END),
         |      CAST(0.0 AS DOUBLE)) AS mrr,
         |  CAST(count(CASE WHEN gain > 0 THEN 1 END) AS DOUBLE) / 10 AS precision
         |  FROM hits GROUP BY query),
         |ideal AS (SELECT query,
         |  sum(CAST(round(CAST(rel AS DOUBLE) / ln(CAST(rnk AS DOUBLE) + 1.0), 6)
         |      AS DECIMAL(18,6))) AS idcg,
         |  count(*) AS n_rel
         |  FROM (SELECT query, rel,
         |    row_number() OVER (PARTITION BY query ORDER BY rel DESC, doc_id) AS rnk
         |    FROM rel QUALIFY rnk <= 10) GROUP BY query)
         |SELECT acc.query,
         |  CASE WHEN idcg IS NULL THEN CAST(0.0 AS DOUBLE)
         |       ELSE round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) END AS ndcg,
         |  mrr, precision, coalesce(n_rel, 0) AS n_rel
         |FROM acc LEFT JOIN ideal ON acc.query = ideal.query""".stripMargin,

    "q_whiten" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |  unnest(embedding)::DOUBLE AS x FROM embeddings),
        |st AS (SELECT d, avg(x) AS m, stddev_pop(x) AS sd FROM e GROUP BY d),
        |z AS (SELECT e.d, CASE WHEN sd > 0 THEN (x - m) / sd ELSE 0.0 END AS zx
        |  FROM e JOIN st USING (d)),
        |post AS (SELECT d, avg(zx) AS m2, var_pop(zx) AS v2 FROM z GROUP BY d)
        |SELECT count(*) AS n_dims,
        |count(CASE WHEN abs(m2) <= 1e-6 AND abs(v2 - 1.0) <= 1e-3 THEN 1 END)
        |  AS dims_ok FROM post""".stripMargin,

    // exact legs of the merged incremental profile = full-table
    // profile; the HLL leg surfaces only as the within-5% boolean
    "q_profile_incr" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |count(*) - count($c) AS n_nulls,
           |CAST(min($c) AS VARCHAR) AS min_val,
           |CAST(max($c) AS VARCHAR) AS max_val,
           |TRUE AS approx_ok FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_returnflag", "l_shipdate")
        .map(branch).mkString("\nUNION ALL\n")
    },

    // integer-only skew report: ppm share + ceil-div salt, P pinned 32
    "q_key_skew" ->
      """WITH c AS (SELECT coalesce(CAST(event_type AS VARCHAR), 'null') AS key,
        |  count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT key, cnt, total,
        |  row_number() OVER (ORDER BY cnt DESC, key) AS rnk
        |  FROM c, t QUALIFY rnk <= 10)
        |SELECT CAST(rnk AS INTEGER) AS rnk, key, cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(least(32, greatest(1, (cnt * 32 + total - 1) // total)) AS BIGINT)
        |    AS salt_factor
        |FROM r""".stripMargin,

    // Q·E² as exact integers; same trade CTE as the graph family
    "q_modularity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |lab AS (SELECT 'c:' || c_custkey AS node, c_nationkey AS comm FROM customer
        |        UNION ALL SELECT 's:' || s_suppkey, s_nationkey FROM supplier),
        |e AS (SELECT ls.comm AS sc, ld.comm AS dc
        |  FROM edges JOIN lab ls ON edges.src = ls.node
        |  JOIN lab ld ON edges.dst = ld.node),
        |byc AS (SELECT sc AS comm, CAST(count(*) AS BIGINT) AS deg_sum,
        |  CAST(sum(CASE WHEN sc = dc THEN 1 ELSE 0 END) AS BIGINT) AS intra
        |  FROM e GROUP BY sc),
        |tot AS (SELECT CAST(sum(deg_sum) AS BIGINT) AS e2 FROM byc)
        |SELECT CAST(count(*) AS BIGINT) AS communities,
        |  CAST(e2 // 2 AS BIGINT) AS m_edges,
        |  CAST(sum(e2 * intra - deg_sum * deg_sum) AS DOUBLE) AS q_num,
        |  CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE) AS q_denom,
        |  round(CAST(sum(e2 * intra - deg_sum * deg_sum) AS DOUBLE) /
        |    (CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE)), 6) AS modularity
        |FROM byc, tot GROUP BY e2""".stripMargin,

    // lexicographic-successor prefix test over the distinct texts
    "q_prefix_dup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, substr(text, 1, length(text) // 2)
        |  FROM documents),
        |d AS (SELECT DISTINCT text AS t FROM corpus
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |s AS (SELECT t, lead(t) OVER (ORDER BY t) AS nxt FROM d),
        |p AS (SELECT t FROM s WHERE nxt IS NOT NULL
        |  AND length(t) < length(nxt) AND left(nxt, length(t)) = t)
        |SELECT c.doc_id FROM corpus c JOIN p ON c.text = p.t""".stripMargin,

    // first-seen flag + running sum == COUNT(DISTINCT) OVER
    "q_cum_distinct" ->
      """WITH f AS (SELECT user_id, ts, event_id,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
        |  FROM events),
        |c AS (SELECT user_id, ts,
        |  sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM f)
        |SELECT user_id, CAST(max(cum) AS BIGINT) AS n_types,
        |  epoch_us(min(CASE WHEN cum = 3 THEN ts END)) AS ts3_us
        |FROM c GROUP BY user_id""".stripMargin,

    // explicit argmin over the 8 smallest-id seed vectors; ties to the
    // same per-dim ANOVA identity: 10dp element sums, 6dp S^2/n terms
    "q_ch" ->
      """WITH ex AS (SELECT label AS c, embedding,
        |  unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |ev AS (SELECT c, i, embedding[i]::DOUBLE AS v FROM ex),
        |sci AS (SELECT c, i,
        |  sum(CAST(round(v, 10) AS DECIMAL(38,10))) AS s FROM ev GROUP BY 1, 2),
        |q AS (SELECT sum(CAST(round(v * v, 10) AS DECIMAL(38,10))) AS q2 FROM ev),
        |nc AS (SELECT label AS c, count(*) AS n FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1),
        |a AS (SELECT sum(CAST(round((s * s)::DOUBLE / n::DOUBLE, 6)
        |  AS DECIMAL(38,6))) AS a2 FROM sci JOIN nc USING (c)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(n) AS BIGINT) AS n FROM nc),
        |g AS (SELECT sum(CAST(round((st * st)::DOUBLE / n::DOUBLE, 6)
        |  AS DECIMAL(38,6))) AS g2
        |  FROM (SELECT i, sum(s) AS st FROM sci GROUP BY 1), tot)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND n > k AND q2::DOUBLE - a2::DOUBLE > 0 THEN
        |    round(((a2::DOUBLE - g2::DOUBLE) / (k::DOUBLE - 1.0)) /
        |      ((q2::DOUBLE - a2::DOUBLE) / (n::DOUBLE - k::DOUBLE)), 6)
        |  END AS ch
        |FROM tot, q, a, g""".stripMargin,

    // same exploded-dim surface: centroid means off 10dp decimal
    // sums, 8dp gap terms, one IEEE s shape per point, 6dp mean
    "q_silhouette" ->
      """WITH ex AS (SELECT vec_id AS p, label AS c, embedding,
        |  unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL
        |    AND embedding IS NOT NULL),
        |ev AS (SELECT p, c, i, embedding[i]::DOUBLE AS v FROM ex),
        |nc AS (SELECT label AS c, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL
        |    AND embedding IS NOT NULL GROUP BY 1),
        |cent AS (SELECT ev.c AS cc, i,
        |  CAST(sum(CAST(round(v, 10) AS DECIMAL(38,10))) AS DOUBLE) /
        |    CAST(max(n) AS DOUBLE) AS m
        |  FROM ev JOIN nc ON ev.c = nc.c GROUP BY 1, 2),
        |d2 AS (SELECT p, ev.c, cc,
        |  sum(CAST(round((v - m) * (v - m), 8) AS DECIMAL(38,8))) AS d2
        |  FROM ev JOIN cent ON ev.i = cent.i GROUP BY 1, 2, 3),
        |per AS (SELECT p, c,
        |  min(CASE WHEN c = cc THEN d2 END) AS a2,
        |  min(CASE WHEN c <> cc THEN d2 END) AS b2
        |  FROM d2 GROUP BY 1, 2),
        |ss AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(CASE
        |    WHEN CAST(greatest(a2, b2) AS DOUBLE) > 0 THEN
        |      (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) /
        |      sqrt(CAST(greatest(a2, b2) AS DOUBLE))
        |    ELSE 0.0 END, 6) AS DECIMAL(18,6))) AS sss FROM per),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM nc)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND n > 0 THEN
        |    round(CAST(sss AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  END AS silhouette
        |FROM kk CROSS JOIN ss""".stripMargin,

    // same moment surface: q=2 scatters + pairwise centroid gaps
    "q_db_index" ->
      """WITH ex AS (SELECT label AS c, embedding,
        |  unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |ev AS (SELECT c, i, embedding[i]::DOUBLE AS v FROM ex),
        |nc AS (SELECT label AS c, count(*) AS n FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1),
        |sci AS (SELECT ev.c, i,
        |  sum(CAST(round(v, 10) AS DECIMAL(38,10))) AS s, max(n) AS n
        |  FROM ev JOIN nc ON ev.c = nc.c GROUP BY 1, 2),
        |q2c AS (SELECT c,
        |  sum(CAST(round(v * v, 10) AS DECIMAL(38,10))) AS q2
        |  FROM ev GROUP BY 1),
        |cc2 AS (SELECT c, sum(CAST(round((s * s)::DOUBLE /
        |    (n * n)::DOUBLE, 8) AS DECIMAL(38,8))) AS cc2
        |  FROM sci GROUP BY 1),
        |sc AS (SELECT q2c.c,
        |  sqrt(greatest(q2::DOUBLE / n::DOUBLE - cc2::DOUBLE, 0.0)) AS s
        |  FROM q2c JOIN cc2 ON q2c.c = cc2.c JOIN nc ON q2c.c = nc.c),
        |d2 AS (SELECT a.c AS ca, b.c AS cb,
        |  sum(CAST(round((a.s::DOUBLE / a.n::DOUBLE -
        |    b.s::DOUBLE / b.n::DOUBLE) *
        |    (a.s::DOUBLE / a.n::DOUBLE - b.s::DOUBLE / b.n::DOUBLE), 8)
        |    AS DECIMAL(38,8))) AS d2
        |  FROM sci a JOIN sci b ON a.i = b.i AND a.c <> b.c GROUP BY 1, 2),
        |r AS (SELECT ca,
        |  CASE WHEN d2::DOUBLE > 0 THEN (sa.s + sb.s) / sqrt(d2::DOUBLE)
        |  END AS r
        |  FROM d2 JOIN sc sa ON d2.ca = sa.c JOIN sc sb ON d2.cb = sb.c),
        |w AS (SELECT ca, max(r) AS w, count(r) AS nr, count(*) AS np
        |  FROM r GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(n) AS BIGINT) AS n FROM nc),
        |ws AS (SELECT sum(CAST(round(w, 6) AS DECIMAL(18,6))) AS sw,
        |  sum(nr) AS ok, sum(np) AS al FROM w)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND ok = al THEN
        |    round(sw::DOUBLE / k::DOUBLE, 6) END AS db
        |FROM tot, ws""".stripMargin,

    // lowest cell index = the kernel's strict-< keep-first
    "q_cluster" ->
      """WITH seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |    embedding AS ce
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |dist AS (SELECT v.vec_id, v.label, s.cell,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, len(v.embedding)),
        |      i -> (v.embedding[i]::DOUBLE - s.ce[i]::DOUBLE) *
        |           (v.embedding[i]::DOUBLE - s.ce[i]::DOUBLE))),
        |    (a, x) -> a + x) AS d2
        |  FROM embeddings v CROSS JOIN seeds s),
        |a AS (SELECT vec_id, label, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
        |  FROM dist)
        |SELECT cell, count(*) AS n, min(vec_id) AS min_vid,
        |  max(vec_id) AS max_vid, CAST(sum(label) AS BIGINT) AS label_sum
        |FROM a WHERE rk = 1 GROUP BY cell""".stripMargin,

    // exact cents + row_number rank; same division shapes as Spark
    "q_gini" ->
      """WITH tot AS (SELECT l_suppkey AS k,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT k, x, row_number() OVER (ORDER BY x, k) AS i FROM tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(x) AS BIGINT) AS sum_val,
        |  CAST(sum(CAST(i AS DECIMAL(38,0)) * x) AS DOUBLE) AS weighted_sum,
        |  round(CAST(sum(CAST(i AS DECIMAL(38,0)) * x) AS DOUBLE) * 2.0 /
        |      (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) -
        |    CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS gini
        |FROM r""".stripMargin,

    // same cell frame; 12dp decimal term sums for all three readouts
    "q_theil" ->
      """WITH cells AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND CAST(n_chars AS BIGINT) > 0 GROUP BY 1, 2),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |  sum(CAST(v AS HUGEINT) * c) AS xg FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(xg) AS x,
        |  CAST(count(*) AS BIGINT) AS k FROM pg),
        |ct AS (SELECT
        |  sum(CAST(round(CAST(c AS DOUBLE) * CAST(v AS DOUBLE) /
        |    CAST(x AS DOUBLE) * ln(CAST(n AS DOUBLE) * CAST(v AS DOUBLE) /
        |    CAST(x AS DOUBLE)), 12) AS DECIMAL(38,12))) AS st,
        |  sum(CAST(round(CAST(c AS DOUBLE) * CAST(v AS DOUBLE) /
        |    CAST(x AS DOUBLE) * ln(CAST(ng AS DOUBLE) * CAST(v AS DOUBLE) /
        |    CAST(xg AS DOUBLE)), 12) AS DECIMAL(38,12))) AS sw
        |  FROM cells JOIN pg USING (g), tot),
        |bt AS (SELECT sum(CAST(round(CAST(xg AS DOUBLE) / CAST(x AS DOUBLE) *
        |    ln(CAST(xg AS DOUBLE) * CAST(n AS DOUBLE) /
        |    (CAST(x AS DOUBLE) * CAST(ng AS DOUBLE))), 12)
        |    AS DECIMAL(38,12))) AS sb FROM pg, tot)
        |SELECT n, k, round(CAST(st AS DOUBLE), 6) AS theil_total,
        |  round(CAST(sb AS DOUBLE), 6) AS theil_between,
        |  round(CAST(sw AS DOUBLE), 6) AS theil_within
        |FROM tot, ct, bt""".stripMargin,

    // integer cell/marginal counts; 6dp DECIMAL term sums; ln only
    "q_mutual_info" ->
      """WITH cells AS (SELECT event_type AS x, user_id % 4 AS y,
        |  CAST(count(*) AS BIGINT) AS n_xy FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY x),
        |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY y),
        |n AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM cells),
        |t AS (SELECT x, y, n_xy, n_x, n_y, nn,
        |  CAST(round(CAST(n_xy AS DOUBLE) *
        |    ln(CAST(n_xy AS DOUBLE) * CAST(nn AS DOUBLE) /
        |      (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS term
        |  FROM cells JOIN mx USING (x) JOIN my USING (y), n)
        |SELECT x, y, n_xy, n_x, n_y, CAST(term AS DOUBLE) AS term,
        |  round(CAST(sum(term) OVER () AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS mi
        |FROM t""".stripMargin,

    // right-open intervals via lead; DECIMAL(18,6)×µs weighted sums
    "q_twap" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us, value, event_id
        |  FROM events),
        |i AS (SELECT user_id, value,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |  FROM o)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS dt_total_us,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6)) * dt) AS DOUBLE) /
        |    CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE), 6) AS twap
        |FROM i WHERE dt IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    // exact inner product of key frequencies; CMS bound booleans TRUE
    "q_join_size" ->
      """WITH a AS (SELECT o_custkey AS k, count(*) AS na FROM orders GROUP BY 1),
        |b AS (SELECT c_custkey AS k, count(*) AS nb FROM customer GROUP BY 1)
        |SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact_size,
        |  TRUE AS found_ok, TRUE AS bound_ok
        |FROM a JOIN b USING (k)""".stripMargin,

    // same synthesized changelog; latest-wins via row_number desc
    "q_cdc_merge" -> {
      val base = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
      s"""WITH changes AS (
         |  SELECT $base, 1 AS seq, 'D' AS op FROM customer WHERE c_custkey % 7 = 0
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
         |    c_mktsegment, 1, 'U'
         |  FROM customer WHERE c_custkey % 7 = 1
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 200.0,
         |    c_mktsegment, 2, 'U'
         |  FROM customer WHERE c_custkey % 7 = 1
         |  UNION ALL
         |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
         |    c_mktsegment, 1, 'I'
         |  FROM customer WHERE c_custkey % 7 = 2),
         |win AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
         |  FROM changes) WHERE rn = 1)
         |SELECT $base FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM win w WHERE w.c_custkey = c.c_custkey)
         |UNION ALL
         |SELECT $base FROM win WHERE op <> 'D'""".stripMargin
    },

    // exact cells/marginals; 6dp DECIMAL term sums; same div shapes
    "q_bcubed" ->
      """WITH cells AS (SELECT lang AS p, source AS g,
        |  CAST(count(*) AS BIGINT) AS npg FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |np AS (SELECT p, CAST(sum(npg) AS BIGINT) AS np FROM cells GROUP BY p),
        |ng AS (SELECT g, CAST(sum(npg) AS BIGINT) AS ng FROM cells GROUP BY g),
        |t AS (SELECT npg,
        |  CAST(round(CAST(npg * npg AS DOUBLE) / CAST(np AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS tp,
        |  CAST(round(CAST(npg * npg AS DOUBLE) / CAST(ng AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS tr
        |  FROM cells JOIN np USING (p) JOIN ng USING (g)),
        |s AS (SELECT CAST(sum(npg) AS BIGINT) AS n_items,
        |  sum(tp) AS sp, sum(tr) AS sr FROM t),
        |f AS (SELECT n_items,
        |  round(CAST(sp AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS bcubed_precision,
        |  round(CAST(sr AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS bcubed_recall
        |  FROM s)
        |SELECT n_items, bcubed_precision, bcubed_recall,
        |  CASE WHEN bcubed_precision + bcubed_recall = 0 THEN 0.0
        |       ELSE round(2.0 * bcubed_precision * bcubed_recall /
        |         (bcubed_precision + bcubed_recall), 6) END AS bcubed_f1
        |FROM f""".stripMargin,

    // same md5 scores recomputed per shard id; argmax via row_number
    "q_rendezvous" ->
      """WITH k AS (SELECT o_orderkey AS k FROM orders),
        |sc AS (SELECT k, s,
        |  ('0x' || substr(md5('rdv:' || s || ':' || k), 1, 8))::UBIGINT AS score
        |  FROM k, unnest(generate_series(0, 7)) AS t(s)),
        |a8 AS (SELECT k, s AS s8 FROM (
        |  SELECT k, s, row_number() OVER (PARTITION BY k ORDER BY score DESC, s) AS rk
        |  FROM sc) WHERE rk = 1),
        |a7 AS (SELECT k, s AS s7 FROM (
        |  SELECT k, s, row_number() OVER (PARTITION BY k ORDER BY score DESC, s) AS rk
        |  FROM sc WHERE s < 7) WHERE rk = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN s8 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS on_removed,
        |  CAST(sum(CASE WHEN s8 <> s7 THEN 1 ELSE 0 END) AS BIGINT) AS moved,
        |  (sum(CASE WHEN s8 <> s7 AND s8 <> 7 THEN 1 ELSE 0 END) = 0)
        |    AS minimal_disruption
        |FROM a8 JOIN a7 USING (k)""".stripMargin,

    // exact integer pair counting; identical final division shapes
    "q_ari" ->
      """WITH cells AS (SELECT lang AS p, source AS g,
        |  CAST(count(*) AS BIGINT) AS npg FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |np AS (SELECT p, CAST(sum(npg) AS BIGINT) AS n FROM cells GROUP BY p),
        |ng AS (SELECT g, CAST(sum(npg) AS BIGINT) AS n FROM cells GROUP BY g),
        |s AS (SELECT CAST(sum(npg) AS BIGINT) AS n_items,
        |  CAST(sum(npg * (npg - 1) // 2) AS DOUBLE) AS sum_comb_cells FROM cells),
        |sp AS (SELECT CAST(sum(n * (n - 1) // 2) AS DOUBLE) AS sum_comb_pred FROM np),
        |sg AS (SELECT CAST(sum(n * (n - 1) // 2) AS DOUBLE) AS sum_comb_gold FROM ng)
        |SELECT n_items, sum_comb_cells, sum_comb_pred, sum_comb_gold,
        |  round((sum_comb_cells -
        |    sum_comb_pred * sum_comb_gold /
        |      CAST(n_items * (n_items - 1) // 2 AS DOUBLE)) /
        |   ((sum_comb_pred + sum_comb_gold) / 2.0 -
        |    sum_comb_pred * sum_comb_gold /
        |      CAST(n_items * (n_items - 1) // 2 AS DOUBLE)), 6) AS ari
        |FROM s, sp, sg""".stripMargin,

    // two unrolled power-iteration rounds; 1/sqrt(64) = 0.125 exact
    "q_power_iter" ->
      """WITH x AS (SELECT embedding AS e FROM embeddings
        |  WHERE len(embedding) = 64),
        |w1 AS (SELECT e, list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, 64), i -> e[i]::DOUBLE * 0.125)),
        |    (a, b) -> a + b) AS w FROM x),
        |t1 AS (SELECT unnest(generate_series(1, 64)) AS j,
        |    unnest(list_transform(generate_series(1, 64),
        |      i -> CAST(round(w * e[i]::DOUBLE, 10) AS DECIMAL(38,10)))) AS t
        |  FROM w1),
        |u1 AS (SELECT j, sum(t) AS u FROM t1 GROUP BY j),
        |n1 AS (SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) ORDER BY j)),
        |    (a, b) -> a + b)) AS nrm FROM u1),
        |v1 AS (SELECT list(CAST(u AS DOUBLE) / nrm ORDER BY j) AS vl
        |  FROM u1, n1),
        |w2 AS (SELECT e, list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, 64), i -> e[i]::DOUBLE * vl[i])),
        |    (a, b) -> a + b) AS w FROM x, v1),
        |t2 AS (SELECT unnest(generate_series(1, 64)) AS j,
        |    unnest(list_transform(generate_series(1, 64),
        |      i -> CAST(round(w * e[i]::DOUBLE, 10) AS DECIMAL(38,10)))) AS t
        |  FROM w2),
        |u2 AS (SELECT j, sum(t) AS u FROM t2 GROUP BY j),
        |n2 AS (SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) ORDER BY j)),
        |    (a, b) -> a + b)) AS nrm FROM u2)
        |SELECT CAST(j - 1 AS INTEGER) AS dim,
        |  round(CAST(u AS DOUBLE) / nrm, 6) AS coord,
        |  round(nrm, 6) AS lambda
        |FROM u2, n2""".stripMargin,

    // recursive-CTE fold, clamp as the same CASE branch as the Scala
    "q_cusum" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    CASE WHEN (0.0 + (value - 0.5)) > 0
        |         THEN (0.0 + (value - 0.5)) ELSE 0.0 END AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn,
        |    CASE WHEN (r.s + (e.value - 0.5)) > 0
        |         THEN (r.s + (e.value - 0.5)) ELSE 0.0 END
        |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT event_id, user_id, s AS cusum, s > 5.0 AS alarm FROM r""".stripMargin,

    // one distinct-count aggregate then a count-of-counts summary
    "q_fd" ->
      """WITH g AS (SELECT coalesce(CAST(l_orderkey AS VARCHAR), 'null') AS l,
        |  CAST(count(DISTINCT coalesce(CAST(l_suppkey AS VARCHAR), 'null'))
        |    AS BIGINT) AS nr
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lhs,
        |  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(max(nr) AS BIGINT) AS max_rhs_per_lhs,
        |  sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
        |FROM g""".stripMargin,

    // first digit from the exact cents STRING; ln-ratio expectation
    "q_benford" ->
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents FROM lineitem),
        |c AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
        |  CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE cents IS NOT NULL AND cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
        |SELECT digit, n, CAST(n * 1000000 // tt AS BIGINT) AS obs_ppm,
        |  CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0)
        |    AS BIGINT) AS benford_ppm,
        |  CAST(n * 1000000 // tt AS BIGINT) -
        |  CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0)
        |    AS BIGINT) AS dev_ppm
        |FROM c, t""".stripMargin,

    // positional-posting intersection in SQL, same word splitter
    "q_phrase" ->
      s"""WITH w AS (SELECT doc_id, $W AS ws FROM documents),
         |pos AS (SELECT doc_id, g - 1 AS p, ws[g] AS word FROM w,
         |  LATERAL (SELECT unnest(generate_series(1, len(ws))) AS g) t),
         |a AS (SELECT doc_id, p AS s FROM pos WHERE word = 'table'),
         |b AS (SELECT doc_id, p - 1 AS s FROM pos WHERE word = 'hash')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(s) AS BIGINT) AS first_pos
         |FROM a JOIN b USING (doc_id, s) GROUP BY doc_id""".stripMargin,

    // plain window cumsums are fine at DuckDB's scale; integer gap
    "q_ks" ->
      """WITH pv AS (SELECT value AS v,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL GROUP BY value),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(cb) OVER (ORDER BY v) AS cumb FROM pv),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM pv)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(max(abs(nb * cuma - na * cumb)) AS BIGINT) AS ks_num,
        |  na * nb AS ks_denom,
        |  round(CAST(max(abs(nb * cuma - na * cumb)) AS DOUBLE) /
        |    CAST(na * nb AS DOUBLE), 6) AS ks
        |FROM c, t GROUP BY na, nb""".stripMargin,

    // same pooled CDF; both directed max gaps, clamped at 0
    "q_kuiper" ->
      """WITH pv AS (SELECT value AS v,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL GROUP BY value),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(cb) OVER (ORDER BY v) AS cumb FROM pv),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM pv),
        |g AS (SELECT na, nb,
        |  greatest(CAST(max(nb * cuma - na * cumb) AS BIGINT), 0) AS dp,
        |  greatest(CAST(max(na * cumb - nb * cuma) AS BIGINT), 0) AS dm
        |  FROM c, t GROUP BY na, nb)
        |SELECT na AS n_a, nb AS n_b, dp + dm AS v_num,
        |  na * nb AS v_denom,
        |  round(CAST(dp + dm AS DOUBLE) / CAST(na * nb AS DOUBLE), 6)
        |    AS v
        |FROM g""".stripMargin,

    // single-sample interval terms; nested exact floors
    "q_gmd" ->
      """WITH pv AS (SELECT
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        |c AS (SELECT v, sum(c) OVER w AS cum, lead(v) OVER w AS vn
        |  FROM pv WINDOW w AS (ORDER BY v)),
        |t AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
        |  coalesce(sum(CAST(v AS HUGEINT) * c), 0) AS sx,
        |  CAST(count(*) AS BIGINT) AS support FROM pv),
        |s AS (SELECT coalesce(sum((vn - v) * 2 * CAST(cum AS HUGEINT)
        |    * (t.n - cum)), 0) AS aa
        |  FROM c, t WHERE vn IS NOT NULL)
        |SELECT t.n, t.support,
        |  CASE WHEN t.n >= 2 THEN
        |    CAST(s.aa * 1000000 // (CAST(t.n AS HUGEINT) * (t.n - 1))
        |      AS BIGINT)
        |  END AS gmd_ppm,
        |  CASE WHEN t.n >= 2 AND t.sx > 0 THEN
        |    CAST(s.aa * 1000000 // (2 * CAST(t.n AS HUGEINT)) // t.sx
        |      AS BIGINT)
        |  END AS gini_ppm
        |FROM t, s""".stripMargin,

    // three interval-term sums off the same windowed CDF; one floor
    "q_energy" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |pv AS (SELECT v,
        |  CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1),
        |c AS (SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |  lead(v) OVER w AS vn FROM pv WINDOW w AS (ORDER BY v)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b,
        |  CAST(count(*) AS BIGINT) AS support FROM pv),
        |s AS (SELECT
        |  coalesce(sum((vn - v) * (CAST(cuma AS HUGEINT) * (t.n_b - cumb)
        |    + CAST(cumb AS HUGEINT) * (t.n_a - cuma))), 0) AS ab,
        |  coalesce(sum((vn - v) * 2 * CAST(cuma AS HUGEINT)
        |    * (t.n_a - cuma)), 0) AS aa,
        |  coalesce(sum((vn - v) * 2 * CAST(cumb AS HUGEINT)
        |    * (t.n_b - cumb)), 0) AS bb
        |  FROM c, t WHERE vn IS NOT NULL)
        |SELECT t.n_a, t.n_b, t.support,
        |  CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
        |    CAST((2 * s.ab * t.n_a * t.n_b - s.aa * t.n_b * t.n_b
        |        - s.bb * t.n_a * t.n_a) * 1000000
        |      // (CAST(t.n_a AS HUGEINT) * t.n_a * t.n_b * t.n_b) AS BIGINT)
        |  END AS e_ppm
        |FROM t, s""".stripMargin,

    // CDF-gap integral with lead() gaps; HUGEINT terms, one // floor
    "q_wasserstein" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |pv AS (SELECT v,
        |  CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1),
        |c AS (SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |  lead(v) OVER w AS vn FROM pv WINDOW w AS (ORDER BY v)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b,
        |  CAST(count(*) AS BIGINT) AS support FROM pv),
        |s AS (SELECT coalesce(sum(
        |    abs(CAST(t.n_b AS HUGEINT) * cuma - CAST(t.n_a AS HUGEINT) * cumb)
        |      * (vn - v)), 0) AS w1n
        |  FROM c, t WHERE vn IS NOT NULL)
        |SELECT t.n_a, t.n_b, t.support, CAST(s.w1n AS BIGINT) AS w1_num,
        |  CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
        |    CAST(s.w1n * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT)
        |  END AS w1_ppm
        |FROM t, s""".stripMargin,

    // exact decimal moments per arm, one IEEE pooled-SD shape
    "q_cohens_d" ->
      """WITH b AS (SELECT event_type AS arm,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL),
        |per AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM b GROUP BY 1),
        |w AS (SELECT
        |  max(CASE WHEN arm = 'click' THEN n END) AS n_a,
        |  max(CASE WHEN arm = 'purchase' THEN n END) AS n_b,
        |  max(CASE WHEN arm = 'click' THEN s END) AS sa,
        |  max(CASE WHEN arm = 'purchase' THEN s END) AS sb,
        |  max(CASE WHEN arm = 'click' THEN q END) AS qa,
        |  max(CASE WHEN arm = 'purchase' THEN q END) AS qb
        |  FROM per),
        |f AS (SELECT n_a, n_b,
        |  qa::DOUBLE - (sa * sa)::DOUBLE / n_a::DOUBLE AS ssa,
        |  qb::DOUBLE - (sb * sb)::DOUBLE / n_b::DOUBLE AS ssb,
        |  sa::DOUBLE / n_a::DOUBLE - sb::DOUBLE / n_b::DOUBLE AS gap
        |  FROM w)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND ssa + ssb > 0 THEN
        |    round(gap / sqrt((ssa + ssb) / (n_a::DOUBLE + n_b::DOUBLE - 2.0)), 6)
        |  END AS d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND ssa + ssb > 0 THEN
        |    round(gap / sqrt((ssa + ssb) / (n_a::DOUBLE + n_b::DOUBLE - 2.0)) *
        |      (1.0 - 3.0 / (4.0 * (n_a::DOUBLE + n_b::DOUBLE - 2.0) - 1.0)), 6)
        |  END AS g
        |FROM f""".stripMargin,

    // counting placements off the windowed CDF; mirrored IEEE shapes
    "q_brunner" ->
      """WITH b AS (SELECT event_type AS g,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL),
        |pv AS (SELECT v,
        |  CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1),
        |c AS (SELECT v, ca, cb, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
        |  FROM pv WINDOW w AS (ORDER BY v)),
        |t AS (SELECT
        |  CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b,
        |  coalesce(sum(CAST(ca AS HUGEINT) * (2 * (cumb - cb) + cb)), 0) AS bx,
        |  coalesce(sum(CAST(ca AS HUGEINT) * (2 * (cumb - cb) + cb)
        |    * (2 * (cumb - cb) + cb)), 0) AS ax,
        |  coalesce(sum(CAST(cb AS HUGEINT) * (2 * (cuma - ca) + ca)), 0) AS by,
        |  coalesce(sum(CAST(cb AS HUGEINT) * (2 * (cuma - ca) + ca)
        |    * (2 * (cuma - ca) + ca)), 0) AS ay,
        |  coalesce(sum(CAST(ca AS HUGEINT)
        |    * (2 * (cuma + cumb - ca - cb) + ca + cb + 1)), 0) AS r2a,
        |  coalesce(sum(CAST(cb AS HUGEINT)
        |    * (2 * (cuma + cumb - ca - cb) + ca + cb + 1)), 0) AS r2b
        |  FROM c),
        |f AS (SELECT n_a, n_b, r2a, r2b,
        |  (CAST(n_a AS HUGEINT) * ax - bx * bx)::DOUBLE /
        |    (CASE WHEN n_a >= 2 THEN 4.0 * n_a::DOUBLE * (n_a::DOUBLE - 1.0)
        |     END) AS sx2,
        |  (CAST(n_b AS HUGEINT) * ay - by * by)::DOUBLE /
        |    (CASE WHEN n_b >= 2 THEN 4.0 * n_b::DOUBLE * (n_b::DOUBLE - 1.0)
        |     END) AS sy2
        |  FROM t),
        |g AS (SELECT n_a, n_b, r2b, sx2, sy2,
        |  n_a::DOUBLE AS nd, n_b::DOUBLE AS md,
        |  n_a::DOUBLE * sx2 + n_b::DOUBLE * sy2 AS v,
        |  r2b::DOUBLE / (CASE WHEN n_b > 0 THEN 2.0 * n_b::DOUBLE END)
        |    - r2a::DOUBLE / (CASE WHEN n_a > 0 THEN 2.0 * n_a::DOUBLE END)
        |    AS gap
        |  FROM f)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST((r2b - CAST(n_b AS HUGEINT) * (n_b + 1)) * 1000000
        |      // (2 * CAST(n_b AS HUGEINT) * n_a) AS BIGINT)
        |  END AS phat_ppm,
        |  CASE WHEN v > 0 THEN
        |    round(nd * md * gap / ((nd + md) * sqrt(v)), 6)
        |  END AS w,
        |  CASE WHEN v > 0 THEN
        |    round(v * v / ((nd * sx2) * (nd * sx2) / (nd - 1.0)
        |      + (md * sy2) * (md * sy2) / (md - 1.0)), 6)
        |  END AS df
        |FROM g""".stripMargin,

    // exact HUGEINT pair-order counts on the cell grid, sign-split
    // ppm floor for delta, doubled form for Vargha-Delaney A
    "q_cliffs" ->
      """WITH cells AS (SELECT l_returnflag = 'R' AS isa,
        |  CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1, 2),
        |p AS (SELECT
        |  coalesce(sum(CASE WHEN a.v > b.v THEN CAST(a.c AS HUGEINT) * b.c END),
        |    0) AS gt,
        |  coalesce(sum(CASE WHEN a.v < b.v THEN CAST(a.c AS HUGEINT) * b.c END),
        |    0) AS lt,
        |  coalesce(sum(CASE WHEN a.v = b.v THEN CAST(a.c AS HUGEINT) * b.c END),
        |    0) AS eq
        |  FROM (SELECT v, c FROM cells WHERE isa) a
        |  CROSS JOIN (SELECT v, c FROM cells WHERE NOT isa) b),
        |ns AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN isa THEN c END), 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(sum(CASE WHEN NOT isa THEN c END), 0) AS BIGINT) AS n_b
        |  FROM cells),
        |f AS (SELECT n_a, n_b, gt, lt, eq,
        |  CAST(n_a AS HUGEINT) * n_b AS den FROM ns, p),
        |g AS (SELECT n_a, n_b, gt, lt, eq,
        |  CASE WHEN den > 0 THEN
        |    CAST(CASE WHEN gt >= lt THEN (gt - lt) * 1000000 // den
        |      ELSE -((lt - gt) * 1000000 // den) END AS BIGINT)
        |  END AS delta_ppm,
        |  CASE WHEN den > 0 THEN
        |    CAST((2 * gt + eq) * 1000000 // (2 * den) AS BIGINT)
        |  END AS vda_ppm
        |  FROM f)
        |SELECT n_a, n_b, CAST(gt AS BIGINT) AS gt, CAST(lt AS BIGINT) AS lt,
        |  CAST(eq AS BIGINT) AS eq, delta_ppm, vda_ppm,
        |  CASE WHEN delta_ppm IS NOT NULL THEN
        |    CASE WHEN abs(delta_ppm) < 147000 THEN 'negligible'
        |      WHEN abs(delta_ppm) < 330000 THEN 'small'
        |      WHEN abs(delta_ppm) < 474000 THEN 'medium'
        |      ELSE 'large' END
        |  END AS magnitude
        |FROM g""".stripMargin,

    // per-stratum floor terms in HUGEINT, match-weighted average
    "q_matched_att" ->
      """WITH per AS (SELECT CAST(ts AS DATE) AS s,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN user_id % 2 = 0
        |    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS st,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0
        |    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sc
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |f AS (SELECT s, nt, nc, least(nt, nc) AS m,
        |  CASE WHEN least(nt, nc) > 0 THEN
        |    (CAST(st AS HUGEINT) * nc - CAST(sc AS HUGEINT) * nt) *
        |      least(nt, nc) * 1000000 // (CAST(nt AS HUGEINT) * nc)
        |  ELSE 0 END AS term
        |  FROM per),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS strata_total,
        |  CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS strata_used,
        |  CAST(sum(CASE WHEN m > 0 THEN m ELSE 0 END) AS BIGINT) AS n_matched,
        |  sum(term) AS num FROM f)
        |SELECT strata_total, strata_used, n_matched,
        |  CAST(CASE WHEN n_matched > 0 THEN num // n_matched END AS BIGINT)
        |    AS att_micros
        |FROM a""".stripMargin,

    // weight-CDF: first value whose cumulative cents reach ceil(p·W)
    "q_wquantile" ->
      """WITH c1 AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c1),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS w FROM c1 GROUP BY 1),
        |pp AS (SELECT CAST(0.5 AS DOUBLE) AS p
        |  UNION ALL SELECT CAST(0.9 AS DOUBLE))
        |SELECT cdf.g AS l_returnflag, pp.p AS p, min(v) AS value, nn.w AS w
        |FROM cdf JOIN nn ON cdf.g = nn.g CROSS JOIN pp
        |WHERE cum >= ceil(pp.p * nn.w)
        |GROUP BY 1, 2, 4 ORDER BY 1, 2""".stripMargin,

    // exact share-squared sums over the |sources| frame
    "q_hhi" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(c AS HUGEINT) * c) AS sq, CAST(max(c) AS BIGINT) AS top
        |  FROM c)
        |SELECT k, n,
        |  CAST(sq * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS hhi_ppm,
        |  CAST(CAST(top AS HUGEINT) * 1000000 // n AS BIGINT) AS top_share_ppm,
        |  CAST(1000000000 // (sq * 1000000 // (CAST(n AS HUGEINT) * n)) AS BIGINT)
        |    AS effective_k_milli
        |FROM a""".stripMargin,

    // cells² sign-product sum in HUGEINT; marginal tie terms
    "q_kendall" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(l_linenumber AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |sv AS (SELECT CAST(sum(CAST(a.c AS HUGEINT) * b.c *
        |  sign(a.x - b.x) * sign(a.y - b.y)) // 2 AS BIGINT) AS s,
        |  CAST(sum(CAST(a.c AS HUGEINT) * b.c *
        |    abs(sign(a.x - b.x) * sign(a.y - b.y))) // 2 AS BIGINT) AS cd
        |  FROM cells a CROSS JOIN cells b),
        |nx AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |  CAST(sum(CAST(t AS HUGEINT) * (t - 1)) // 2 AS BIGINT) AS n1
        |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1)),
        |ny AS (SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1)) // 2 AS BIGINT) AS n2
        |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1)),
        |n0v AS (SELECT n, CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS BIGINT) AS n0
        |  FROM nx)
        |SELECT n0v.n AS n, sv.s AS s, n0v.n0 AS n0, nx.n1 AS n1, ny.n2 AS n2,
        |  CASE WHEN n0 > n1 AND n0 > n2 THEN
        |    round(s::DOUBLE / (sqrt((n0 - n1)::DOUBLE) * sqrt((n0 - n2)::DOUBLE)), 6)
        |  END AS tau_b,
        |  CASE WHEN cd > 0 THEN round(s::DOUBLE / cd::DOUBLE, 6) END AS gamma,
        |  CASE WHEN n0 > n1 THEN round(s::DOUBLE / (n0 - n1)::DOUBLE, 6) END
        |    AS somers_d
        |FROM n0v, nx, ny, sv""".stripMargin,

    // per-stratum 6dp DECIMAL terms, exact sums, one IEEE OR/chi2
    "q_mantel_haenszel" ->
      """WITH per AS (SELECT CAST(ts AS DATE) AS s,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type <> 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type <> 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM events GROUP BY 1),
        |f AS (SELECT a, a + b + c + d AS n,
        |  CAST(round((CAST(a AS HUGEINT) * d)::DOUBLE / (a+b+c+d)::DOUBLE, 6)
        |    AS DECIMAL(38,6)) AS tad,
        |  CAST(round((CAST(b AS HUGEINT) * c)::DOUBLE / (a+b+c+d)::DOUBLE, 6)
        |    AS DECIMAL(38,6)) AS tbc,
        |  CAST(round((CAST(a + b AS HUGEINT) * (a + c))::DOUBLE /
        |    (a+b+c+d)::DOUBLE, 6) AS DECIMAL(38,6)) AS te,
        |  CAST(round((CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))::DOUBLE /
        |    (CAST(a+b+c+d AS HUGEINT) * (a+b+c+d) * (a+b+c+d-1))::DOUBLE, 6)
        |    AS DECIMAL(38,6)) AS tv
        |  FROM per WHERE a + b + c + d > 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS strata,
        |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS aa,
        |  sum(tad) AS sad, sum(tbc) AS sbc, sum(te) AS e, sum(tv) AS v
        |  FROM f)
        |SELECT strata, n,
        |  CASE WHEN sbc::DOUBLE > 0 THEN round(sad::DOUBLE / sbc::DOUBLE, 6) END
        |    AS or_mh,
        |  CASE WHEN v::DOUBLE > 0 THEN
        |    round((aa::DOUBLE - e::DOUBLE) * (aa::DOUBLE - e::DOUBLE) /
        |      v::DOUBLE, 6) END AS chi2_cmh
        |FROM agg""".stripMargin,

    // grouped-median CDF (same ceil rule), weighted deviation moments,
    // q_anova's 6dp-term scalar block
    // same per-x maxima staircase via NOT EXISTS dominance
    "q_pareto" ->
      """WITH xy AS (SELECT CAST(p_size AS BIGINT) AS x,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |  CAST(count(*) AS BIGINT) AS n FROM part
        |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
        |  GROUP BY 1, 2),
        |ym AS (SELECT x, CAST(max(y) AS BIGINT) AS ym FROM xy GROUP BY 1),
        |fr AS (SELECT a.x, a.ym FROM ym a WHERE NOT EXISTS
        |  (SELECT 1 FROM ym b WHERE b.x > a.x AND b.ym >= a.ym))
        |SELECT fr.x, fr.ym AS y, xy.n AS n_rows
        |FROM fr JOIN xy ON fr.x = xy.x AND fr.ym = xy.y""".stripMargin,

    // same cell frame; integer-mean shift, shifted-power HUGEINT
    // sums, identical IEEE moment shapes
    "q_moments" ->
      """WITH cells AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1, 2),
        |mu AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(v AS HUGEINT) * c) AS sx FROM cells GROUP BY 1),
        |sh AS (SELECT g, n, CAST(sx // n AS BIGINT) AS mu,
        |  sx - CAST(n AS HUGEINT) * (sx // n) AS r FROM mu),
        |pw AS (SELECT c.g, n, mu, r,
        |  sum(CAST(v - mu AS HUGEINT) * c.c) AS s1,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * c.c) AS s2,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * (v - mu) * c.c) AS s3,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * (v - mu) * (v - mu)
        |    * c.c) AS s4
        |  FROM cells c JOIN sh USING (g) GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT g, n, mu, r, s2, s3, s4,
        |  CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS del FROM pw),
        |mm AS (SELECT g, n, mu, del,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - del * del AS m2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    3.0 * del * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    2.0 * del * del * del AS m3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    4.0 * del * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    6.0 * del * del * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
        |    3.0 * del * del * del * del AS m4
        |  FROM dl)
        |SELECT g AS "group", n,
        |  round(CAST(mu AS DOUBLE) + del, 6) AS mean,
        |  CASE WHEN m2 > 0 THEN round(m3 / (sqrt(m2) * m2), 6) END
        |    AS skewness,
        |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END
        |    AS kurtosis_excess
        |FROM mm""".stripMargin,

    // the q_moments chain wrapped once more: JB off the ROUNDED 6dp
    // shape moments, rounded-constant fence
    "q_jarque_bera" ->
      """WITH cells AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1, 2),
        |mu AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(v AS HUGEINT) * c) AS sx FROM cells GROUP BY 1),
        |sh AS (SELECT g, n, CAST(sx // n AS BIGINT) AS mu,
        |  sx - CAST(n AS HUGEINT) * (sx // n) AS r FROM mu),
        |pw AS (SELECT c.g, n, mu, r,
        |  sum(CAST(v - mu AS HUGEINT) * c.c) AS s1,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * c.c) AS s2,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * (v - mu) * c.c) AS s3,
        |  sum(CAST(v - mu AS HUGEINT) * (v - mu) * (v - mu) * (v - mu)
        |    * c.c) AS s4
        |  FROM cells c JOIN sh USING (g) GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT g, n, mu, r, s2, s3, s4,
        |  CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS del FROM pw),
        |mm AS (SELECT g, n,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - del * del AS m2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    3.0 * del * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    2.0 * del * del * del AS m3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    4.0 * del * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    6.0 * del * del * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
        |    3.0 * del * del * del * del AS m4
        |  FROM dl),
        |sku AS (SELECT g, n,
        |  CASE WHEN m2 > 0 THEN round(m3 / (sqrt(m2) * m2), 6) END AS sk,
        |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END AS ku
        |  FROM mm),
        |jbt AS (SELECT g, n, sk, ku,
        |  CASE WHEN sk IS NOT NULL AND ku IS NOT NULL THEN
        |    round(CAST(n AS DOUBLE) / 6.0 * (sk * sk + ku * ku / 4.0), 6)
        |  END AS jb FROM sku)
        |SELECT g AS l_returnflag, n, sk AS skewness, ku AS kurtosis_excess,
        |  jb, CASE WHEN jb IS NOT NULL THEN jb >= 5.991465 END AS sig_95
        |FROM jbt ORDER BY 1""".stripMargin,

    // 6dp decimal within terms, pooled MSW, same IEEE q shape
    "q_tukey_hsd" ->
      """WITH per AS (SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS HUGEINT)) AS sx,
        |  sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS HUGEINT) *
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS sxx
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |tw AS (SELECT g, n, sx,
        |  CAST(round(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) /
        |    CAST(n AS DOUBLE), 6) AS DECIMAL(38,6)) AS w FROM per),
        |tot AS (SELECT sum(w) AS ssw, CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(count(*) AS BIGINT) AS k FROM tw)
        |SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |  CASE WHEN nn > k AND ssw > 0 THEN
        |    round(abs(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |        CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE)) /
        |      sqrt(CAST(ssw AS DOUBLE) / CAST(nn - k AS DOUBLE) / 2.0 *
        |        (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))),
        |      6)
        |  END AS q
        |FROM tw a JOIN tw b ON a.g < b.g CROSS JOIN tot
        |ORDER BY 1, 2""".stripMargin,

    // exact rational group variances into 6dp ln/pooled/reciprocal
    // decimal terms, one IEEE chi2 shape
    "q_bartlett" ->
      """WITH per AS (SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS HUGEINT)) AS s,
        |  sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS HUGEINT) *
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS q
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |pm AS (SELECT g, n, n * q - s * s AS num FROM per),
        |kept AS (SELECT n,
        |  CAST(round(CAST(n - 1 AS DOUBLE) *
        |    ln(CAST(num AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)), 6)
        |    AS DECIMAL(28,6)) AS lnterm,
        |  CAST(round(CAST(num AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS DECIMAL(28,6)) AS ss,
        |  CAST(round(1.0 / CAST(n - 1 AS DOUBLE), 6) AS DECIMAL(18,6)) AS rcp
        |  FROM pm WHERE n >= 2 AND num > 0),
        |dr AS (SELECT CAST(sum(CASE WHEN n < 2 OR num <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS k_dropped FROM pm),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(n) AS BIGINT) AS n,
        |  sum(lnterm) AS sl, sum(ss) AS sss, sum(rcp) AS src FROM kept)
        |SELECT k, dr.k_dropped, n,
        |  CASE WHEN k >= 2 AND n > k AND sss > 0 THEN
        |    round((CAST(n - k AS DOUBLE) *
        |        ln(CAST(sss AS DOUBLE) / CAST(n - k AS DOUBLE)) -
        |        CAST(sl AS DOUBLE)) /
        |      (1.0 + (CAST(src AS DOUBLE) - 1.0 / CAST(n - k AS DOUBLE)) /
        |        (3.0 * CAST(k - 1 AS DOUBLE))), 6)
        |  END AS chi2
        |FROM agg, dr""".stripMargin,

    // HUGEINT moments, the same closed-form quadratic per row, top-10
    // on (d2 DESC, id)
    "q_mahalanobis" ->
      """WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS id,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |  CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x) -
        |    sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT)) AS sxx,
        |  CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y) -
        |    sum(CAST(y AS HUGEINT)) * sum(CAST(y AS HUGEINT)) AS syy,
        |  CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y) -
        |    sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)) AS sxy
        |  FROM base),
        |d AS (SELECT id, x, y,
        |  round(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) *
        |    (CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE) *
        |       CAST(syy AS DOUBLE) -
        |     2.0 * CAST(n * x - sx AS DOUBLE) * CAST(n * y - sy AS DOUBLE) *
        |       CAST(sxy AS DOUBLE) +
        |     CAST(n * y - sy AS DOUBLE) * CAST(n * y - sy AS DOUBLE) *
        |       CAST(sxx AS DOUBLE)) /
        |    (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE) -
        |     CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)), 6) AS d2
        |  FROM base, m
        |  WHERE CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE) -
        |    CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE) > 0 AND n >= 2)
        |SELECT id, x, y, d2 FROM d ORDER BY d2 DESC, id LIMIT 10""".stripMargin,

    // one (value,count) cell frame; M = max|n·v−Σx| in HUGEINT, exact
    // integer G² ppm, smallest achieving value on ties
    "q_grubbs" ->
      """WITH cells AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM events
        |  WHERE value IS NOT NULL GROUP BY 1),
        |mom AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(v AS HUGEINT) * c) AS sx,
        |  sum(CAST(v AS HUGEINT) * v * c) AS qx FROM cells),
        |dev AS (SELECT v, abs(CAST(v AS HUGEINT) * n - sx) AS d
        |  FROM cells, mom),
        |m AS (SELECT max(d) AS mm FROM dev)
        |SELECT mom.n AS n,
        |  (SELECT min(v) FROM dev, m WHERE d = mm) AS at_value,
        |  CASE WHEN mom.n * qx - sx * sx > 0 THEN
        |    CAST(mm * mm * (mom.n - 1) * 1000000
        |      // (mom.n * (mom.n * qx - sx * sx)) AS BIGINT)
        |  END AS g2_ppm
        |FROM mom, m""".stripMargin,

    "q_brown_forsythe" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |c1 AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c1),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c1 GROUP BY 1),
        |med AS (SELECT cdf.g, min(v) AS med FROM cdf JOIN nn ON cdf.g = nn.g
        |  WHERE cum >= ceil(CAST(0.5 AS DOUBLE) * nn.n) GROUP BY 1),
        |per AS (SELECT c1.g, CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(c AS HUGEINT) * abs(v - med)) AS s,
        |  sum(CAST(c AS HUGEINT) * abs(v - med) * abs(v - med)) AS q2
        |  FROM c1 JOIN med ON c1.g = med.g GROUP BY 1),
        |terms AS (SELECT n, s, q2,
        |  CAST(round((s * s)::DOUBLE / n::DOUBLE, 6) AS DECIMAL(38,6)) AS a
        |  FROM per),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |  sum(s) AS st, sum(q2) AS qt, sum(a) AS at FROM terms)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND n > k
        |    AND qt::DOUBLE - at::DOUBLE > 0 THEN
        |    round((at::DOUBLE - (st * st)::DOUBLE / n::DOUBLE) / (k::DOUBLE - 1.0) /
        |      ((qt::DOUBLE - at::DOUBLE) / (n::DOUBLE - k::DOUBLE)), 6) END AS f,
        |  CASE WHEN qt::DOUBLE - (st * st)::DOUBLE / n::DOUBLE > 0 THEN
        |    round((at::DOUBLE - (st * st)::DOUBLE / n::DOUBLE) /
        |      (qt::DOUBLE - (st * st)::DOUBLE / n::DOUBLE), 6) END AS eta_sq
        |FROM agg""".stripMargin,

    // k-bounded score table, HUGEINT products, one ppm floor
    "q_trend_test" ->
      """WITH g AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(r) AS BIGINT) AS r, CAST(sum(w * n) AS BIGINT) AS swn,
        |  CAST(sum(w * r) AS BIGINT) AS swr, CAST(sum(w * w * n) AS BIGINT) AS sw2n
        |  FROM g),
        |s AS (SELECT k, n, r,
        |  CAST(n * swr - r * swn AS HUGEINT) AS tn,
        |  CAST(r AS HUGEINT) * (n - r) * (n * sw2n - swn * swn) AS vd FROM a)
        |SELECT k, n, r, CAST(tn AS BIGINT) AS trend_num,
        |  CAST(CASE WHEN vd > 0 THEN tn * tn * n * 1000000 // vd END AS BIGINT)
        |    AS z2_ppm,
        |  CASE WHEN vd > 0 THEN tn * tn * n * 1000000 // vd > 3841459 END AS trend_95,
        |  CASE WHEN vd > 0 THEN tn * tn * n * 1000000 // vd > 6634897 END AS trend_99
        |FROM s""".stripMargin,

    // same per-value CDF frame, squared-gap sum in HUGEINT, one floor
    "q_cvm" ->
      """WITH pv AS (SELECT value AS v,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL GROUP BY value),
        |c AS (SELECT ca, cb, sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(cb) OVER (ORDER BY v) AS cumb FROM pv),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM pv)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(sum((ca + cb) * (nb * cuma - na * cumb) * (nb * cuma - na * cumb))
        |    * 1000000 // (na * nb * (na + nb) * (na + nb)) AS BIGINT) AS t_ppm
        |FROM c, t GROUP BY na, nb""".stripMargin,

    // same per-arm CDF cells; tail overlaps, fence order-stats,
    // exact winsorized moments, identical IEEE t/df shapes
    "q_yuen" ->
      """WITH cells AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c,
        |  sum(c) OVER (PARTITION BY g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g) AS n FROM cells),
        |tt AS (SELECT g, v, c, cum, n, n * 200000 // 1000000 AS t FROM cdf),
        |lc AS (SELECT g, v, c, cum, n, t,
        |  greatest(0, least(cum, t) - (cum - c)) AS lowc,
        |  greatest(0, cum - greatest(cum - c, n - t)) AS highc FROM tt),
        |per AS (SELECT g, any_value(n) AS n, any_value(t) AS t,
        |  min(CASE WHEN cum >= t + 1 THEN v END) AS vlo,
        |  min(CASE WHEN cum >= n - t THEN v END) AS vhi,
        |  sum(CAST((c - lowc - highc) * v AS HUGEINT)) AS ts,
        |  sum(CAST(c - lowc - highc AS HUGEINT) * v * v) AS tq
        |  FROM lc GROUP BY g),
        |ww AS (SELECT g, n, n - 2 * t AS h, ts,
        |  ts + CAST(t AS HUGEINT) * vlo + CAST(t AS HUGEINT) * vhi AS sw,
        |  tq + CAST(t AS HUGEINT) * vlo * vlo +
        |    CAST(t AS HUGEINT) * vhi * vhi AS sw2 FROM per),
        |nn AS (SELECT g, n, h, ts,
        |  CAST(n AS HUGEINT) * sw2 - sw * sw AS nv FROM ww),
        |ab AS (SELECT
        |  (SELECT n FROM nn WHERE g = 'click') AS n_a,
        |  (SELECT h FROM nn WHERE g = 'click') AS h_a,
        |  (SELECT ts FROM nn WHERE g = 'click') AS ts_a,
        |  (SELECT nv FROM nn WHERE g = 'click') AS nv_a,
        |  (SELECT n FROM nn WHERE g = 'purchase') AS n_b,
        |  (SELECT h FROM nn WHERE g = 'purchase') AS h_b,
        |  (SELECT ts FROM nn WHERE g = 'purchase') AS ts_b,
        |  (SELECT nv FROM nn WHERE g = 'purchase') AS nv_b),
        |dv AS (SELECT n_a, n_b, h_a, h_b, ts_a, ts_b,
        |  CAST(nv_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(h_a AS DOUBLE) *
        |    CAST(h_a - 1 AS DOUBLE)) AS da,
        |  CAST(nv_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * CAST(h_b AS DOUBLE) *
        |    CAST(h_b - 1 AS DOUBLE)) AS db
        |  FROM ab)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(h_a AS BIGINT) AS h_a, CAST(h_b AS BIGINT) AS h_b,
        |  CASE WHEN h_a >= 1 THEN
        |    round(CAST(ts_a AS DOUBLE) / CAST(h_a AS DOUBLE), 6) END AS tm_a,
        |  CASE WHEN h_b >= 1 THEN
        |    round(CAST(ts_b AS DOUBLE) / CAST(h_b AS DOUBLE), 6) END AS tm_b,
        |  CASE WHEN h_a >= 2 AND h_b >= 2 AND da + db > 0 THEN
        |    round((CAST(ts_a AS DOUBLE) / CAST(h_a AS DOUBLE) -
        |      CAST(ts_b AS DOUBLE) / CAST(h_b AS DOUBLE)) / sqrt(da + db), 6)
        |  END AS t,
        |  CASE WHEN h_a >= 2 AND h_b >= 2 AND da + db > 0
        |      AND da * da / CAST(h_a - 1 AS DOUBLE) +
        |          db * db / CAST(h_b - 1 AS DOUBLE) > 0 THEN
        |    round((da + db) * (da + db) /
        |      (da * da / CAST(h_a - 1 AS DOUBLE) +
        |       db * db / CAST(h_b - 1 AS DOUBLE)), 6)
        |  END AS df
        |FROM dv""".stripMargin,

    // same per-value CDF frame, per-term 1/(B(N−B))-weighted ppm
    // floors in HUGEINT, the B = N row excluded
    "q_ad" ->
      """WITH pv AS (SELECT value AS v,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL GROUP BY value),
        |c AS (SELECT ca, cb, sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(ca + cb) OVER (ORDER BY v) AS b FROM pv),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM pv)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(sum(CASE WHEN b < na + nb THEN
        |    (CAST(ca + cb AS HUGEINT) *
        |     ((na + nb) * cuma - na * b) * ((na + nb) * cuma - na * b) * 1000000)
        |    // (CAST(b AS HUGEINT) * (na + nb - b) * na * nb) ELSE 0 END)
        |    AS BIGINT) AS a2_ppm
        |FROM c, t GROUP BY na, nb""".stripMargin,

    // H = ln N − (Σ n·ln n)/N with 6dp DECIMAL term sums
    "q_entropy" ->
      """WITH c AS (SELECT event_type AS x, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |  sum(CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS sd
        |  FROM c)
        |SELECT n, k,
        |  round(ln(CAST(n AS DOUBLE)) - CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS entropy,
        |  CASE WHEN k <= 1 THEN 0.0
        |       ELSE round(round(ln(CAST(n AS DOUBLE)) -
        |         CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) /
        |         ln(CAST(k AS DOUBLE)), 6) END AS entropy_norm
        |FROM s""".stripMargin,

    // the sizing arithmetic re-derived; layout check pinned TRUE
    "q_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST((count(*) + 99) // 100 AS BIGINT) AS n_partitions,
        |  CAST((count(*) + 99) // 100 AS BIGINT) AS expected_partitions,
        |  TRUE AS sized_ok
        |FROM documents""".stripMargin,

    // latest valid_from <= t per order via row_number; same math
    "q_pit" ->
      """WITH dim AS (
        |  SELECT c_custkey AS k, 1 AS ver, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
        |    0 AS vf FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 2, CAST(c_acctbal AS DECIMAL(18,2)) + 100.00, 9496
        |  FROM customer WHERE c_custkey % 2 = 0),
        |f AS (SELECT o_orderkey AS id, o_custkey AS k,
        |  date_diff('day', DATE '1970-01-01', o_orderdate) AS t,
        |  o_totalprice FROM orders),
        |m AS (SELECT f.id, f.o_totalprice, d.ver, d.bal,
        |  row_number() OVER (PARTITION BY f.id ORDER BY d.vf DESC) AS rk
        |  FROM f JOIN dim d ON f.k = d.k AND d.vf <= f.t)
        |SELECT ver, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(sum(bal) AS DOUBLE) AS bal_sum
        |FROM m WHERE rk = 1 GROUP BY ver""".stripMargin,

    // four unrolled rounds: two on x, deflate by v2, two on the residual
    "q_pca2" -> {
      // one power round: w fold, 1e-10-rounded DECIMAL matvec, norm, unit v
      def round(src: String, li: String, vi: String, s: String, vFrom: String) =
        s"""w$s AS (SELECT * , list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(generate_series(1, 64), i -> $li * $vi)),
           |    (a, b) -> a + b) AS w FROM $src$vFrom),
           |t$s AS (SELECT unnest(generate_series(1, 64)) AS j,
           |    unnest(list_transform(generate_series(1, 64),
           |      i -> CAST(round(w * $li, 10) AS DECIMAL(38,10)))) AS t
           |  FROM w$s),
           |u$s AS (SELECT j, sum(t) AS u FROM t$s GROUP BY j),
           |n$s AS (SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           |    list(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) ORDER BY j)),
           |    (a, b) -> a + b)) AS nrm FROM u$s),
           |v$s AS (SELECT list(CAST(u AS DOUBLE) / nrm ORDER BY j) AS vl
           |  FROM u$s, n$s)""".stripMargin
      s"""WITH x AS (SELECT embedding AS e FROM embeddings
         |  WHERE len(embedding) = 64),
         |${round("x", "e[i]::DOUBLE", "0.125", "1", "")},
         |${round("x", "e[i]::DOUBLE", "vl[i]", "2", ", v1")},
         |y AS (SELECT e, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(generate_series(1, 64), i -> e[i]::DOUBLE * vl[i])),
         |    (a, b) -> a + b) AS w FROM x, v2),
         |x2 AS (SELECT list_transform(generate_series(1, 64),
         |    j -> e[j]::DOUBLE - w * vl[j]) AS e2 FROM y, v2),
         |${round("x2", "e2[i]", "0.125", "3", "")},
         |${round("x2", "e2[i]", "vl[i]", "4", ", v3")}
         |SELECT CAST(1 AS INTEGER) AS component, CAST(j - 1 AS INTEGER) AS dim,
         |  round(CAST(u AS DOUBLE) / nrm, 6) AS coord, round(nrm, 6) AS lambda
         |FROM u2, n2
         |UNION ALL
         |SELECT CAST(2 AS INTEGER), CAST(j - 1 AS INTEGER),
         |  round(CAST(u AS DOUBLE) / nrm, 6), round(nrm, 6)
         |FROM u4, n4""".stripMargin
    },

    // zero-cell-free chi-square identity; same division shapes
    "q_cramers_v" ->
      """WITH cells AS (SELECT event_type AS x, user_id % 4 AS y,
        |  CAST(count(*) AS BIGINT) AS nxy
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY x),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY y),
        |nn AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
        |  CAST(count(DISTINCT x) AS BIGINT) AS r,
        |  CAST(count(DISTINCT y) AS BIGINT) AS c FROM cells),
        |tt AS (SELECT CAST(round(
        |    ((CAST(nxy AS DOUBLE) - e) * (CAST(nxy AS DOUBLE) - e)) / e - e, 6)
        |    AS DECIMAL(18,6)) AS t
        |  FROM (SELECT nxy,
        |    CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |    FROM cells JOIN mx USING (x) JOIN my USING (y), nn)),
        |s2 AS (SELECT n, r, c,
        |  round(CAST(sum(t) AS DOUBLE) + CAST(n AS DOUBLE), 6) AS chi2
        |  FROM tt, nn GROUP BY n, r, c)
        |SELECT n, r, c, chi2,
        |  CASE WHEN least(r, c) <= 1 THEN NULL
        |       ELSE round(sqrt(chi2 /
        |         (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM s2""".stripMargin,

    // recursive two-state fold: l' inline twice, same IEEE chains
    "q_holt" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn,
        |    0.5 * e.value + 0.5 * (r.l + r.b),
        |    0.3 * ((0.5 * e.value + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
        |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT event_id, user_id, l AS level, b AS trend,
        |  l + b AS forecast FROM r""".stripMargin,

    // same decimal moments, same closed-form theta/xbar shapes
    "q_cuped" ->
      """WITH e AS (SELECT user_id AS u, user_id % 2 AS arm, ts, event_id, value
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT u, arm, value,
        |  row_number() OVER (PARTITION BY u ORDER BY ts, event_id) AS rn FROM e),
        |pu0 AS (SELECT u, min(arm) AS arm,
        |  sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS vsum,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(max(CASE WHEN rn = 1 THEN value END), 6)
        |    AS DECIMAL(18,6)) AS fx
        |  FROM r GROUP BY u),
        |pu AS (SELECT u, arm, fx AS x,
        |  CAST(round(CAST(vsum - fx AS DOUBLE) / CAST(cnt - 1 AS DOUBLE), 6)
        |    AS DECIMAL(18,6)) AS y
        |  FROM pu0 WHERE cnt >= 2),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(x) AS sx, sum(y) AS sy,
        |  sum(x * x) AS sxx, sum(x * y) AS sxy FROM pu),
        |th AS (SELECT n, sx,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
        |  FROM st),
        |adj AS (SELECT arm, y,
        |  CAST(round(CAST(y AS DOUBLE) - theta *
        |    (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS yadj,
        |  round(theta, 6) AS theta FROM pu, th)
        |SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_post,
        |  round(CAST(sum(yadj) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_adj,
        |  theta
        |FROM adj GROUP BY arm, theta""".stripMargin,

    // identical Wilson formula shapes; z = 1.96
    "q_wilson" ->
      """WITH a AS (SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN value > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS successes
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT grp, n, successes,
        |  round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  round((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) +
        |      3.8415999999999997 / (2.0 * CAST(n AS DOUBLE))) /
        |      (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)) -
        |    1.96 * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) *
        |      (1.0 - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE) +
        |      3.8415999999999997 /
        |      (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
        |      (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)), 6) AS lo,
        |  round((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) +
        |      3.8415999999999997 / (2.0 * CAST(n AS DOUBLE))) /
        |      (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)) +
        |    1.96 * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) *
        |      (1.0 - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE) +
        |      3.8415999999999997 /
        |      (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
        |      (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)), 6) AS hi
        |FROM a""".stripMargin,

    // same quintile windows; ntile ties broken by the key
    "q_rfm" ->
      """WITH per AS (SELECT o_custkey AS k, max(o_orderdate) AS last_d,
        |  CAST(count(*) AS BIGINT) AS f,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |a AS (SELECT CAST(max(last_d) AS DATE) AS anchor FROM per),
        |b AS (SELECT k, date_diff('day', last_d, anchor) AS r, f, m FROM per, a),
        |s AS (SELECT k,
        |  ntile(5) OVER (ORDER BY r, k) * 100 +
        |  ntile(5) OVER (ORDER BY f, k) * 10 +
        |  ntile(5) OVER (ORDER BY m, k) AS segment FROM b)
        |SELECT CAST(segment AS INTEGER) AS segment,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM s GROUP BY segment""".stripMargin,

    // the sim kernel + majority vote (count desc, label asc)
    // same in-order cosine folds on sliced prefixes; shared full rank
    "q_kcenter" -> kcenterOracle(6),

    "q_mmr" -> mmrOracle(8, 500000L),

    // q_shapley_ann: the recall-gate pattern (q_semdedup_knn) — the
    // oracle recomputes the exact top-N row count and pins the
    // full-probe-equivalence + working-probe-agreement booleans TRUE.
    "q_shapley_ann" ->
      """WITH tr AS (SELECT vec_id FROM embeddings
        |  WHERE len(embedding) = 64 AND vec_id IS NOT NULL
        |    AND label IS NOT NULL AND vec_id >= 20)
        |SELECT LEAST(50, (SELECT count(*) FROM tr)) AS n_top,
        |  TRUE AS full_probe_exact, TRUE AS agreement_ok""".stripMargin,

    // q_shapley: the same closed-form recursion as window SQL — rank
    // by exact integer d² (ties to tid), base term at j = N, the
    // (m_j − m_{j+1}) delta elsewhere with the sign OUTSIDE the //
    // floor, suffix-summed per test point.
    "q_shapley" ->
      """WITH tr AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS tid,
        |    list_transform(embedding,
        |      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS tv,
        |    label AS ty
        |  FROM embeddings WHERE len(embedding) = 64
        |    AND vec_id IS NOT NULL AND label IS NOT NULL AND vec_id >= 20),
        |te AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS qid,
        |    list_transform(embedding,
        |      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv,
        |    label AS qy
        |  FROM embeddings WHERE len(embedding) = 64
        |    AND vec_id IS NOT NULL AND label IS NOT NULL AND vec_id < 20),
        |pairs AS (SELECT te.qid, tr.tid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, 64),
        |        i -> (tr.tv[i] - te.qv[i]) * (tr.tv[i] - te.qv[i]))),
        |      (a, x) -> a + x) AS d2,
        |    CASE WHEN tr.ty = te.qy THEN 1 ELSE 0 END AS m
        |  FROM tr CROSS JOIN te),
        |ranked AS (SELECT qid, tid, m,
        |    row_number() OVER w AS j,
        |    count(*) OVER (PARTITION BY qid) AS n,
        |    lead(m, 1) OVER w AS mn
        |  FROM pairs WINDOW w AS (PARTITION BY qid ORDER BY d2, tid)),
        |contrib AS (SELECT qid, tid, j,
        |    CASE WHEN j = n THEN m * (1000000 // n)
        |      ELSE (m - mn) * ((1000000 * LEAST(5, j)) // (5 * j)) END AS c
        |  FROM ranked),
        |sfx AS (SELECT qid, tid, SUM(c) OVER (PARTITION BY qid
        |    ORDER BY j DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM contrib),
        |agg AS (SELECT tid AS vec_id, CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(SUM(s) AS BIGINT) AS value_ppm
        |  FROM sfx GROUP BY tid)
        |SELECT vec_id, n_test, value_ppm FROM agg
        |ORDER BY value_ppm DESC, vec_id LIMIT 50""".stripMargin,

    // q_cka: milli-unit fixed-point scatter in HUGEINT (Spark mirrors
    // in decimal(38,0)); centering via C_ij = n·P_ij − S_i·S_j; the
    // only float ops are the final num/(√dx·√dy) readout at 6dp —
    // identical IEEE shape on both engines.
    "q_cka" ->
      """WITH clean AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE len(embedding) = 64 AND vec_id IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS n FROM clean),
        |x AS MATERIALIZED (SELECT vec_id, g.i,
        |    CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000) AS BIGINT)
        |      AS xl
        |  FROM clean CROSS JOIN
        |    (SELECT unnest(generate_series(1, 64)) AS i) g),
        |s AS MATERIALIZED (SELECT i, SUM(xl) AS sv FROM x GROUP BY i),
        |p AS (SELECT a.i AS ia, b.i AS ib, SUM(a.xl * b.xl) AS pp
        |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
        |c AS (SELECT p.ia, p.ib,
        |    CAST(n.n AS HUGEINT) * p.pp -
        |      CAST(sa.sv AS HUGEINT) * CAST(sb.sv AS HUGEINT) AS cc
        |  FROM p JOIN s sa ON sa.i = p.ia JOIN s sb ON sb.i = p.ib
        |  CROSS JOIN nn n),
        |agg AS (SELECT SUM(cc * cc) AS dx,
        |    SUM(CASE WHEN ib <= 16 THEN cc * cc END) AS nm,
        |    SUM(CASE WHEN ia <= 16 AND ib <= 16 THEN cc * cc END) AS dy
        |  FROM c)
        |SELECT CAST(n.n AS BIGINT) AS n, 64 AS dim, 16 AS prefix_dims,
        |  ROUND(CAST(nm AS DOUBLE) /
        |    (sqrt(CAST(CASE WHEN dx > 0 THEN dx END AS DOUBLE)) *
        |     sqrt(CAST(CASE WHEN dy > 0 THEN dy END AS DOUBLE))), 6)
        |    AS cka
        |FROM agg CROSS JOIN nn n""".stripMargin,

    "q_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv
        |  FROM embeddings),
        |fs AS (SELECT query_id, neighbor_id,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, len(cv)),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
        |fr AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END)
        |      DESC, neighbor_id) AS rank FROM fs) WHERE rank <= 10),
        |base AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
        |    AS n_queries, CAST(count(*) AS BIGINT) AS slots FROM fr),
        |pd AS (SELECT CAST(p AS BIGINT) AS p
        |  FROM (VALUES (8), (16), (32)) t(p)),
        |ps AS (SELECT p, query_id, neighbor_id,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, CAST(p AS INTEGER)),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, CAST(p AS INTEGER)),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, CAST(p AS INTEGER)),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM c CROSS JOIN q CROSS JOIN pd WHERE query_id != neighbor_id),
        |pr AS (SELECT p, query_id, neighbor_id FROM (SELECT p, query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY p, query_id
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END)
        |      DESC, neighbor_id) AS rank FROM ps) WHERE rank <= 10),
        |mm AS (SELECT pr.p, CAST(count(*) AS BIGINT) AS matches
        |  FROM pr JOIN fr ON pr.query_id = fr.query_id
        |    AND pr.neighbor_id = fr.neighbor_id GROUP BY 1)
        |SELECT pd.p AS prefix_dim, n_queries, CAST(10 AS BIGINT) AS k,
        |  CAST(COALESCE(matches, 0) * 1000000 // slots AS BIGINT)
        |    AS overlap_ppm
        |FROM pd LEFT JOIN mm ON pd.p = mm.p CROSS JOIN base
        |ORDER BY 1""".stripMargin,

    "q_knn_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 50 AND label IS NOT NULL),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
        |  FROM embeddings WHERE label IS NOT NULL),
        |s AS (SELECT query_id, ql, neighbor_id, nl,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(cv)),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
        |r AS (SELECT query_id, ql, nl,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC,
        |      neighbor_id) AS rank
        |  FROM s),
        |v AS (SELECT query_id, ql, nl, count(*) AS votes FROM r
        |  WHERE rank <= 5 GROUP BY query_id, ql, nl),
        |p AS (SELECT query_id, (nl = ql) AS correct,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, nl ASC) AS rk FROM v)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS acc_ppm
        |FROM p WHERE rk = 1""".stripMargin,

    // the q_sim_brute kernel with the label-mismatch predicate
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10 AND label IS NOT NULL),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
        |  FROM embeddings WHERE label IS NOT NULL),
        |s AS (SELECT query_id, neighbor_id, nl,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qv)),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(cv)),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM c CROSS JOIN q WHERE query_id != neighbor_id AND ql != nl),
        |r AS (SELECT query_id, neighbor_id, nl,
        |  CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END AS cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC, neighbor_id)
        |    AS INTEGER) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, nl AS neg_label,
        |  round(cos, 4) AS cosine, rank FROM r WHERE rank <= 3""".stripMargin,

    // latest click at-or-before each purchase; 7-day window in µs
    "q_attribution" ->
      """WITH p AS (SELECT user_id AS k, epoch_us(ts) AS pt, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS k, epoch_us(ts) AS ct
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.pid, p.pt, c.ct,
        |  row_number() OVER (PARTITION BY p.pid ORDER BY c.ct DESC) AS rk
        |  FROM p LEFT JOIN c ON p.k = c.k AND c.ct <= p.pt),
        |a AS (SELECT pid,
        |  (ct IS NOT NULL AND pt - ct <= 604800000000) AS attr
        |  FROM m WHERE rk = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN attr THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
        |  CAST(sum(CASE WHEN attr THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS attributed_ppm
        |FROM a""".stripMargin,

    // window CDF; identical ceil(p*N) target arithmetic
    "q_exact_quantiles" ->
      """WITH src AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM src GROUP BY v),
        |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cu FROM c),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM c)
        |SELECT pd AS p, CAST(min(v) AS BIGINT) AS value,
        |  CAST(ceil(pd * nn) AS BIGINT) AS rank, nn AS n
        |FROM cum, n,
        |  (SELECT CAST(p AS DOUBLE) AS pd
        |   FROM (VALUES (0.5), (0.9), (0.99)) t(p)) ps
        |WHERE cu >= ceil(pd * nn) GROUP BY pd, nn""".stripMargin,

    // window cumsum sweep; same half-open interval construction
    "q_concurrency" ->
      """WITH iv AS (SELECT
        |  date_diff('day', DATE '1970-01-01', l_shipdate) AS st,
        |  date_diff('day', DATE '1970-01-01', l_shipdate) +
        |    CAST(l_quantity AS BIGINT) % 30 + 1 AS en
        |  FROM lineitem),
        |d AS (SELECT t, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |  SELECT st AS t, 1 AS dd FROM iv
        |  UNION ALL SELECT en, -1 FROM iv) GROUP BY t),
        |c AS (SELECT t, sum(dd) OVER (ORDER BY t) AS cc FROM d),
        |m AS (SELECT CAST(max(cc) AS BIGINT) AS max_concurrent FROM c)
        |SELECT max_concurrent, CAST(min(t) AS BIGINT) AS first_peak_t
        |FROM c, m WHERE cc = max_concurrent GROUP BY max_concurrent""".stripMargin,

    // the salted rewrite must equal the PLAIN join — the oracle is it
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // dense 0..23 grid; step-vs-line sups at interval ends, 24n exact
    "q_kuiper_uniform" ->
      """WITH counts AS (SELECT event_type AS g,
        |  CAST(hour(ts) AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |gs AS (SELECT DISTINCT g FROM counts),
        |hh AS (SELECT CAST(unnest(generate_series(0, 23)) AS BIGINT)
        |  AS h),
        |dense AS (SELECT gs.g, hh.h, COALESCE(c, 0) AS c
        |  FROM gs CROSS JOIN hh LEFT JOIN counts
        |    ON counts.g = gs.g AND counts.h = hh.h),
        |cdf AS (SELECT g, h, c,
        |  sum(c) OVER (PARTITION BY g ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g) AS n FROM dense),
        |ag AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |  greatest(CAST(max(24 * cum - n * h) AS BIGINT), 0) AS dp,
        |  greatest(CAST(max(n * (h + 1) - 24 * cum) AS BIGINT), 0) AS dm
        |  FROM cdf GROUP BY 1)
        |SELECT g AS event_type, n, dp + dm AS v_num,
        |  24 * n AS v_denom,
        |  CASE WHEN n > 0 THEN
        |    round(CAST(dp + dm AS DOUBLE) / CAST(24 * n AS DOUBLE), 6)
        |  END AS v
        |FROM ag ORDER BY 1""".stripMargin,

    // identical JVM-embedded trig CASE arms; 6dp decimal term sums
    "q_rayleigh" -> {
      val cosCase = (0 until 24).map(h =>
        s"WHEN $h THEN CAST(${math.cos(2.0 * math.Pi * h / 24.0)} AS DOUBLE)")
        .mkString("CASE h ", " ", " END")
      val sinCase = (0 until 24).map(h =>
        s"WHEN $h THEN CAST(${math.sin(2.0 * math.Pi * h / 24.0)} AS DOUBLE)")
        .mkString("CASE h ", " ", " END")
      s"""WITH cells AS (SELECT event_type AS g,
         |  CAST(hour(ts) AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS c
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1, 2),
         |terms AS (SELECT g, c,
         |  CAST(round(CAST(c AS DOUBLE) * ($cosCase), 6)
         |    AS DECIMAL(28,6)) AS tc,
         |  CAST(round(CAST(c AS DOUBLE) * ($sinCase), 6)
         |    AS DECIMAL(28,6)) AS tss
         |  FROM cells),
         |ag AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
         |  COALESCE(sum(tc), 0) AS sc, COALESCE(sum(tss), 0) AS ss
         |  FROM terms GROUP BY 1)
         |SELECT g AS event_type, n,
         |  round(sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) +
         |    CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
         |    CAST(n AS DOUBLE), 6) AS rbar,
         |  round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) +
         |    CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
         |    CAST(n AS DOUBLE), 6) AS z,
         |  round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) +
         |    CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
         |    CAST(n AS DOUBLE), 6) > 2.995732 AS sig_95
         |FROM ag ORDER BY 1""".stripMargin
    },

    // y-CDF ranks, x-ordered lead gaps, exact HUGEINT xi
    "q_chatterjee" ->
      """WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS id,
        |  CAST(l_quantity AS BIGINT) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS y
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |yc AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM base
        |  GROUP BY 1),
        |ycdf AS (SELECT y, c,
        |  CAST(sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS r FROM yc),
        |yl AS (SELECT y, c, r, n - r + c AS l FROM ycdf CROSS JOIN nn),
        |dd AS (SELECT CAST(COALESCE(sum(c::HUGEINT * l * (n - l)), 0) * 2
        |  AS HUGEINT) AS denom2 FROM yl CROSS JOIN nn),
        |rws AS (SELECT b.id, b.x, b.y, yl.r FROM base b JOIN yl
        |  ON b.y = yl.y),
        |sd AS (SELECT COALESCE(sum(CAST(abs(nr - r) AS HUGEINT)), 0)
        |  AS sdr FROM (SELECT r, lead(r) OVER (ORDER BY x, id, y) AS nr
        |  FROM rws) WHERE nr IS NOT NULL)
        |SELECT n, CAST(sdr AS BIGINT) AS sum_dr,
        |  CAST(denom2 AS BIGINT) AS denom2,
        |  CAST(CASE WHEN denom2 > 0 THEN
        |    1000000 - (n::HUGEINT * sdr * 1000000) // denom2
        |  END AS BIGINT) AS xi_ppm
        |FROM nn CROSS JOIN dd CROSS JOIN sd""".stripMargin,

    // row_number rank desc, decile floor split, window cum capture
    "q_gains" ->
      """WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS id,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS s
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT y, CAST(row_number() OVER (ORDER BY -s, id, y)
        |    AS BIGINT) AS rank,
        |  CAST(count(*) OVER () AS BIGINT) AS n,
        |  CAST(sum(y) OVER () AS BIGINT) AS p FROM base),
        |d AS (SELECT (rank - 1) * 10 // n AS decile,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos,
        |  max(r.n) AS nn, max(p) AS pp
        |  FROM r GROUP BY 1),
        |c AS (SELECT decile, n, pos, nn, pp,
        |  CAST(sum(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_pos FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile, n, pos, cum_pos,
        |  CAST(CASE WHEN pp > 0 THEN cum_pos * 1000000 // pp END
        |    AS BIGINT) AS cum_capture_ppm,
        |  CAST(CASE WHEN pp > 0 THEN
        |    pos::HUGEINT * nn * 1000000 // (n::HUGEINT * pp) END
        |    AS BIGINT) AS lift_ppm
        |FROM c ORDER BY 1""".stripMargin,

    // suffix TP/FP off one window cumsum; max-by (f1, -threshold)
    "q_f1_sweep" ->
      """WITH cells AS (SELECT
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS s,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS pos,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
        |    AS BIGINT) AS neg
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
        |  CAST(sum(neg) AS BIGINT) AS nn FROM cells),
        |cum AS (SELECT s, pos, neg,
        |  sum(pos) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cp,
        |  sum(neg) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cn
        |  FROM cells),
        |sw AS (SELECT s, p, nn,
        |  p - (cp - pos) AS tp, nn - (cn - neg) AS fp,
        |  (p - (cp - pos)) * 2 * 1000000 //
        |    ((p - (cp - pos)) + (nn - (cn - neg)) + p) AS f1
        |  FROM cum CROSS JOIN tot),
        |best AS (SELECT s, p, nn, tp, fp, f1,
        |  row_number() OVER (ORDER BY f1 DESC, s ASC) AS rk FROM sw)
        |SELECT p + nn AS n, p, s AS best_threshold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(f1 AS BIGINT) AS f1_ppm,
        |  CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CASE WHEN p > 0 THEN CAST(tp * 1000000 // p AS BIGINT) END
        |    AS recall_ppm
        |FROM best WHERE rk = 1""".stripMargin,

    // same midrank-over-CDF identity, spelled with a window cumsum
    "q_auc" ->
      """WITH c AS (SELECT l_extendedprice AS s, count(*) AS c,
        |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT s, c, p, sum(c) OVER (ORDER BY s) AS cu FROM c)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(c - p) AS BIGINT) AS n_neg,
        |  round((sum(p * (2 * (cu - c) + c + 1)) - sum(p) * (sum(p) + 1))::DOUBLE /
        |    (2.0 * sum(p) * sum(c - p)), 6) AS auc
        |FROM cum""".stripMargin,

    // floor-div integer contract: global mean first, then per-category
    // (every // result cast to BIGINT — DuckDB sum() is HUGEINT, which
    // the driver's pandas path renders as float; keep int64 end-to-end)
    "q_target_encode" ->
      """WITH per AS (SELECT o_orderpriority AS category, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS s
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(sum(s) // sum(n) AS BIGINT) AS gmean FROM per)
        |SELECT category, n, CAST(s // n AS BIGINT) AS mean_cents,
        |  CAST((s + 20 * gmean) // (n + 20) AS BIGINT) AS enc_cents
        |FROM per, g ORDER BY category""".stripMargin,

    // identical arithmetic inclusion rule, replicate means as bigints;
    // spread as std_micros = floor(1e6 * sqrt(var)) off an exact int64
    // variance numerator — no HUGEINT or raw double in the output
    "q_bootstrap" ->
      """WITH rep AS (SELECT b, o_orderkey AS id,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders, (SELECT unnest(generate_series(0, 31)) AS b)
        |  WHERE ((o_orderkey % 1000003) * (b + 17) + 31 * b * b) % 97 < 48),
        |m AS (SELECT b, CAST(sum(v) // count(*) AS BIGINT) AS m FROM rep GROUP BY b),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS b,
        |  CAST(sum(m) // count(*) AS BIGINT) AS mean_of_means_cents,
        |  min(m) AS lo_cents, max(m) AS hi_cents,
        |  CAST(count(*) * sum(m * m) - sum(m) * sum(m) AS BIGINT) AS var_num
        |  FROM m)
        |SELECT b, mean_of_means_cents, lo_cents, hi_cents,
        |  CAST(floor(sqrt(var_num::DOUBLE / (b * (b - 1))::DOUBLE)
        |    * 1000000.0) AS BIGINT) AS std_micros
        |FROM a""".stripMargin,

    // lag window per user; decimal moments, one double expression
    "q_autocorr" ->
      """WITH p AS (SELECT user_id, CAST(value AS DECIMAL(18,6)) AS x,
        |  lag(CAST(value AS DECIMAL(18,6)), 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS y
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT user_id, count(*) AS n_pairs,
        |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_pairs,
        |  CASE WHEN n_pairs < 3
        |    OR n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <= 0
        |    OR n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE <= 0
        |  THEN NULL ELSE
        |    round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |      (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |       sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
        |  END AS r
        |FROM a""".stripMargin,

    // same trade-graph CTE as q_pagerank; degrees on the doubled list
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src),
        |dist AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree),
        |t AS (SELECT sum(degree * n_nodes) AS te FROM dist)
        |SELECT degree, n_nodes,
        |  CAST(degree * n_nodes * 1000000 // te AS BIGINT) AS degree_share_ppm
        |FROM dist, t""".stripMargin,

    // zipped parallel unnest gives 1-based positions; only position
    // DIFFERENCES matter so the 0-based Spark side agrees exactly
    "q_skipgram" ->
      s"""WITH base AS (SELECT doc_id, $W AS ws FROM documents),
         |toks AS (SELECT doc_id, unnest(ws) AS w,
         |  unnest(range(1, len(ws) + 1)) AS p FROM base),
         |uni AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
         |u AS (SELECT sum(cw) AS uu FROM uni),
         |pr AS (SELECT least(a.w, b.w) AS token_a, greatest(a.w, b.w) AS token_b
         |  FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + 2),
         |pairs AS (SELECT token_a, token_b, count(*) AS n_pair
         |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 2),
         |t AS (SELECT sum(n_pair) AS tt FROM pairs)
         |SELECT token_a, token_b, n_pair,
         |  ua.cw AS n_a, ub.cw AS n_b,
         |  round(ln((n_pair::DOUBLE / tt::DOUBLE) *
         |    (uu::DOUBLE / ua.cw::DOUBLE) * (uu::DOUBLE / ub.cw::DOUBLE)), 6) AS pmi
         |FROM pairs JOIN uni ua ON pairs.token_a = ua.w
         |  JOIN uni ub ON pairs.token_b = ub.w, t, u
         |ORDER BY n_pair DESC, token_a, token_b LIMIT 100""".stripMargin,

    // same multiplicative scramble, parenthesized to the same op order
    "q_kfold" ->
      """WITH f AS (SELECT
        |  ((o_orderkey % 1000003) * 2654435761 % 2147483648) % 5 AS fold,
        |  o_orderpriority AS stratum FROM orders),
        |cells AS (SELECT fold, stratum, count(*) AS n FROM f GROUP BY 1, 2),
        |per AS (SELECT stratum, sum(n) AS ns FROM cells GROUP BY 1)
        |SELECT fold, cells.stratum AS stratum, n,
        |  CAST(n * 1000000 // ns AS BIGINT) AS stratum_share_ppm
        |FROM cells JOIN per ON cells.stratum = per.stratum""".stripMargin,

    // integer bin + ppm rate; '//' == Spark's div on positive longs
    "q_calibration" ->
      """WITH b AS (SELECT
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 500000 AS bin,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem)
        |SELECT bin, bin * 500000 AS lo, count(*) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS rate_ppm
        |FROM b GROUP BY bin""".stripMargin,

    // DuckDB's levenshtein == Spark's (unit-cost edits); same blocking
    "q_edit_dist" ->
      """WITH p AS (SELECT a.c_nationkey AS nk,
        |  levenshtein(a.c_name, b.c_name) AS d
        |  FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |SELECT nk AS c_nationkey, count(*) AS n_pairs,
        |  CAST(min(d) AS BIGINT) AS min_dist, CAST(sum(d) AS BIGINT) AS sum_dist
        |FROM p WHERE d <= 2 GROUP BY nk""".stripMargin,

    // +1-smoothed shares on the union spine; 6dp decimal terms
    "q_psi" ->
      """WITH ev AS (SELECT event_id,
        |  CAST(round(value * 100) AS BIGINT) // 500 AS bin FROM events),
        |r AS (SELECT bin, count(*) AS cr FROM ev
        |  WHERE event_id % 2 = 0 AND bin IS NOT NULL GROUP BY bin),
        |c AS (SELECT bin, count(*) AS cc FROM ev
        |  WHERE event_id % 2 <> 0 AND bin IS NOT NULL GROUP BY bin),
        |j AS (SELECT COALESCE(cr, 0) + 1 AS r1, COALESCE(cc, 0) + 1 AS c1,
        |  COALESCE(cr, 0) AS r0, COALESCE(cc, 0) AS c0
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |t AS (SELECT sum(r1) AS sr, sum(c1) AS sc,
        |  CAST(sum(r0) AS BIGINT) AS n_ref, CAST(sum(c0) AS BIGINT) AS n_cur,
        |  count(*) AS n_bins FROM j)
        |SELECT n_bins, n_ref, n_cur,
        |  CAST(sum(CAST(round(
        |    (r1::DOUBLE / sr::DOUBLE - c1::DOUBLE / sc::DOUBLE) *
        |    ln((r1::DOUBLE / sr::DOUBLE) / (c1::DOUBLE / sc::DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS psi
        |FROM j, t GROUP BY n_bins, n_ref, n_cur""".stripMargin,

    // three entropies off one cell frame; 6dp decimal term sums
    "q_info_gain" ->
      """WITH cells AS (SELECT event_type AS x, user_id % 4 AS y,
        |  count(*) AS nxy FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, sum(nxy) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT y, sum(nxy) AS ny FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM cells),
        |hx AS (SELECT -CAST(sum(CAST(round(
        |  (nx::DOUBLE / nn::DOUBLE) * ln(nx::DOUBLE / nn::DOUBLE), 6)
        |  AS DECIMAL(18,6))) AS DOUBLE) AS h FROM mx, n),
        |hy AS (SELECT -CAST(sum(CAST(round(
        |  (ny::DOUBLE / nn::DOUBLE) * ln(ny::DOUBLE / nn::DOUBLE), 6)
        |  AS DECIMAL(18,6))) AS DOUBLE) AS h FROM my, n),
        |hyx AS (SELECT -CAST(sum(CAST(round(
        |  (nxy::DOUBLE / nn::DOUBLE) * ln(nxy::DOUBLE / nx::DOUBLE), 6)
        |  AS DECIMAL(18,6))) AS DOUBLE) AS h
        |  FROM cells JOIN mx USING (x), n)
        |SELECT nn AS n, hx.h AS h_x, hy.h AS h_y, hyx.h AS h_y_given_x,
        |  round(hy.h - hyx.h, 6) AS info_gain,
        |  CASE WHEN hx.h <= 0 THEN NULL
        |    ELSE round((hy.h - hyx.h) / hx.h, 6) END AS gain_ratio
        |FROM n, hx, hy, hyx""".stripMargin,

    // per-doc DISTINCT presence; chi2 mirrored double-op-for-double-op
    "q_chi2_terms" ->
      s"""WITH docs AS (SELECT doc_id,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text FROM documents),
         |tot AS (SELECT CAST(sum(y) AS BIGINT) AS np,
         |  CAST(count(*) - sum(y) AS BIGINT) AS nneg FROM docs),
         |pres AS (SELECT DISTINCT doc_id, y, term FROM
         |  (SELECT doc_id, y, unnest($W) AS term FROM docs)),
         |cnt AS (SELECT term, CAST(sum(y) AS BIGINT) AS n_pos_docs,
         |  CAST(count(*) - sum(y) AS BIGINT) AS n_neg_docs
         |  FROM pres GROUP BY term HAVING count(*) >= 2),
         |sel AS (SELECT term, n_pos_docs, n_neg_docs,
         |  n_pos_docs::DOUBLE AS a, n_neg_docs::DOUBLE AS b,
         |  np::DOUBLE - n_pos_docs::DOUBLE AS cc,
         |  nneg::DOUBLE - n_neg_docs::DOUBLE AS dd,
         |  np::DOUBLE + nneg::DOUBLE AS ntot,
         |  n_pos_docs * nneg > n_neg_docs * np AS positive_assoc
         |  FROM cnt, tot)
         |SELECT term, n_pos_docs, n_neg_docs,
         |  CASE WHEN cc + dd = 0 OR a + cc = 0 OR b + dd = 0 THEN 0.0
         |  ELSE round((ntot * ((a * dd - b * cc) * (a * dd - b * cc))) /
         |    (((a + b) * (cc + dd)) * ((a + cc) * (b + dd))), 6) END AS chi2,
         |  positive_assoc
         |FROM sel ORDER BY chi2 DESC, term LIMIT 50""".stripMargin,

    // same moments; sample std; '//' floor-div on non-negative offsets
    "q_feature_scale" ->
      """WITH base AS (SELECT l_orderkey, l_linenumber,
        |  l_returnflag AS grp,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |st AS (SELECT grp, count(*) AS n, min(v) AS mn, max(v) AS mx,
        |  CAST(sum(v) AS BIGINT) AS s,
        |  CAST(sum(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS s2
        |  FROM base GROUP BY grp)
        |SELECT l_orderkey, l_linenumber, base.grp AS l_returnflag,
        |  CASE WHEN mx = mn THEN NULL
        |    ELSE (v - mn) * 1000000 // (mx - mn) END AS minmax_ppm,
        |  CASE WHEN n < 2 OR n::DOUBLE * s2::DOUBLE - s::DOUBLE * s::DOUBLE <= 0
        |  THEN NULL ELSE
        |    round((v::DOUBLE - s::DOUBLE / n::DOUBLE) /
        |      sqrt((n::DOUBLE * s2::DOUBLE - s::DOUBLE * s::DOUBLE) /
        |        (n::DOUBLE * (n::DOUBLE - 1.0))), 6)
        |  END AS z
        |FROM base JOIN st ON base.grp = st.grp""".stripMargin,

    // window cumsums give both running totals; tie-block overshoot
    // subtracted exactly, share by HUGEINT floor-div
    "q_lorenz" ->
      """WITH c AS (SELECT
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  count(*) AS cnt FROM lineitem GROUP BY 1),
        |cum AS (SELECT v, cnt,
        |  sum(cnt) OVER (ORDER BY v) AS cumc,
        |  sum(v * cnt) OVER (ORDER BY v) AS cumv FROM c),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(v * cnt) AS BIGINT) AS total FROM c),
        |ps AS (SELECT CAST(p AS DOUBLE) AS p
        |  FROM (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),
        |               (0.6),(0.7),(0.8),(0.9),(1.0)) x(p)),
        |blk AS (SELECT p, CAST(ceil(p * n) AS BIGINT) AS rank, n, total,
        |  min(struct_pack(v := v, cumc := cumc, cumv := cumv)
        |    ORDER BY v) AS b
        |  FROM cum, t, ps WHERE cumc >= ceil(p * n)
        |  GROUP BY p, n, total)
        |SELECT p, rank, n, total,
        |  CAST(b.cumv - (b.cumc - rank) * b.v AS BIGINT) AS lorenz,
        |  CAST(CAST(b.cumv - (b.cumc - rank) * b.v AS HUGEINT) * 1000000
        |    // total AS BIGINT) AS share_ppm
        |FROM blk""".stripMargin,

    // chained per-step min_by CTEs; md5 over the same 'salt:i:cur:dst'
    "q_walks" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |w0 AS (SELECT src AS start, src AS cur, CAST(src AS VARCHAR) AS path
        |  FROM (SELECT DISTINCT src FROM edges WHERE src % 2 = 0 AND src < 200)),
        |s1 AS (SELECT start, cur, path,
        |  min_by(dst, md5('w' || ':' || 1 || ':' || cur || ':' || dst)) AS nxt
        |  FROM w0 LEFT JOIN edges ON cur = src GROUP BY start, cur, path),
        |w1 AS (SELECT start, COALESCE(nxt, cur) AS cur,
        |  path || '>' || COALESCE(nxt, cur) AS path FROM s1),
        |s2 AS (SELECT start, cur, path,
        |  min_by(dst, md5('w' || ':' || 2 || ':' || cur || ':' || dst)) AS nxt
        |  FROM w1 LEFT JOIN edges ON cur = src GROUP BY start, cur, path),
        |w2 AS (SELECT start, COALESCE(nxt, cur) AS cur,
        |  path || '>' || COALESCE(nxt, cur) AS path FROM s2),
        |s3 AS (SELECT start, cur, path,
        |  min_by(dst, md5('w' || ':' || 3 || ':' || cur || ':' || dst)) AS nxt
        |  FROM w2 LEFT JOIN edges ON cur = src GROUP BY start, cur, path),
        |w3 AS (SELECT start, COALESCE(nxt, cur) AS cur,
        |  path || '>' || COALESCE(nxt, cur) AS path FROM s3)
        |SELECT start, cur AS final, path FROM w3""".stripMargin,

    // same gap-break + running-sum burst ids per user
    "q_debounce" ->
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id
        |  FROM events),
        |b AS (SELECT user_id, us, event_id,
        |  CASE WHEN lag(us) OVER w IS NULL
        |    OR us - lag(us) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS burst_id FROM b)
        |SELECT user_id, CAST(burst_id AS BIGINT) AS burst_id,
        |  min(us) AS first_ts_us, max(us) AS last_ts_us,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, burst_id""".stripMargin,

    // same pos − row_number() anchor over distinct activity days
    "q_islands" ->
      """WITH pts AS (SELECT DISTINCT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d FROM events),
        |i AS (SELECT user_id, d,
        |  d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS anchor
        |  FROM pts)
        |SELECT user_id, min(d) AS start_day, max(d) AS end_day,
        |  count(*) AS n_days
        |FROM i GROUP BY user_id, anchor""".stripMargin,

    // rank over (count DESC, value ASC) — same deterministic tiebreak
    "q_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n, row_number() OVER (
        |  PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS mode, n FROM r WHERE rn = 1""".stripMargin,

    // calendar-joined lag-7 / lag-1 MAE legs over per-type daily cents
    "q_mase" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT cur.event_type, count(*) AS n_seasonal,
        |  CAST(sum(abs(cur.x - prev.x)) AS BIGINT) AS ae_seasonal_cents
        |  FROM daily cur JOIN daily prev ON cur.event_type = prev.event_type
        |    AND cur.d = prev.d + 7 GROUP BY 1),
        |n AS (SELECT cur.event_type, count(*) AS n_naive,
        |  CAST(sum(abs(cur.x - prev.x)) AS BIGINT) AS ae_naive_cents
        |  FROM daily cur JOIN daily prev ON cur.event_type = prev.event_type
        |    AND cur.d = prev.d + 1 GROUP BY 1)
        |SELECT s.event_type, n_seasonal, ae_seasonal_cents, n_naive,
        |  ae_naive_cents,
        |  CASE WHEN ae_naive_cents > 0 AND n_seasonal > 0 THEN
        |    CAST(CAST(ae_seasonal_cents AS HUGEINT) * n_naive * 1000000
        |      // (n_seasonal * ae_naive_cents) AS BIGINT) END AS mase_ppm
        |FROM s JOIN n ON s.event_type = n.event_type
        |ORDER BY s.event_type""".stripMargin,

    // same sentence/vowel-group counts + fixed-shape Flesch expression
    "q_readability" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
         |    x -> len(trim(x)) > 0)) AS INTEGER) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |    AS INTEGER) AS n_syllables,
         |  CASE WHEN w > 0 AND s > 0 THEN
         |    round(206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 4)
         |  END AS flesch
         |FROM (SELECT doc_id, text,
         |  CAST(len($W) AS DOUBLE) AS w,
         |  CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
         |    x -> len(trim(x)) > 0)) AS DOUBLE) AS s,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |    AS DOUBLE) AS syl
         |  FROM documents)""".stripMargin,

    // same df-capped postings self-join + floor-div Jaccard ppm
    "q_common_neighbors" ->
      """WITH adj AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity > 45),
        |deg AS (SELECT cust, count(*) AS d FROM adj GROUP BY 1),
        |keep AS (SELECT a.cust, a.supp FROM adj a
        |  JOIN (SELECT supp, count(*) AS ind FROM adj GROUP BY 1) s
        |  ON a.supp = s.supp AND s.ind <= 200),
        |p AS (SELECT l.cust AS a, r.cust AS b, count(*) AS common
        |  FROM keep l JOIN keep r ON l.supp = r.supp AND l.cust < r.cust
        |  GROUP BY 1, 2)
        |SELECT a, b, common, da.d AS deg_a, db.d AS deg_b,
        |  common * 1000000 // (da.d + db.d - common) AS jaccard_ppm
        |FROM p JOIN deg da ON p.a = da.cust JOIN deg db ON p.b = db.cust
        |ORDER BY jaccard_ppm DESC, common DESC, a, b LIMIT 100""".stripMargin,

    // same capped postings; per-destination 10^6//in RA terms and 6dp
    // 1/ln(in) AA terms, summed exactly
    "q_adamic" ->
      """WITH adj AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity > 45),
        |ind AS (SELECT supp, count(*) AS ind FROM adj GROUP BY 1),
        |w AS (SELECT supp, 1000000 // ind AS wra,
        |  CAST(round(1.0 / ln(CAST(ind AS DOUBLE)), 6) AS DECIMAL(18,6))
        |    AS waa
        |  FROM ind WHERE ind BETWEEN 2 AND 200),
        |keep AS (SELECT a.cust, a.supp, w.wra, w.waa FROM adj a
        |  JOIN w ON a.supp = w.supp),
        |p AS (SELECT l.cust AS a, r.cust AS b,
        |  CAST(count(*) AS BIGINT) AS common,
        |  CAST(sum(l.waa) AS DOUBLE) AS aa_score,
        |  CAST(sum(l.wra) AS BIGINT) AS ra_ppm
        |  FROM keep l JOIN keep r ON l.supp = r.supp AND l.cust < r.cust
        |  GROUP BY 1, 2)
        |SELECT a, b, common, aa_score, ra_ppm FROM p
        |ORDER BY ra_ppm DESC, common DESC, a, b LIMIT 100""".stripMargin,

    // same six exact sums over degree-decorated symmetric edges
    "q_assortativity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |deg AS (SELECT src AS n, count(*) AS d FROM edges GROUP BY 1),
        |dd AS (SELECT ds.d AS x, dt.d AS y FROM edges e
        |  JOIN deg ds ON e.src = ds.n JOIN deg dt ON e.dst = dt.n),
        |m AS (SELECT count(*) AS n_edges,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy FROM dd)
        |SELECT n_edges, round(
        |  CAST(n_edges * sxy - sx * sy AS DOUBLE) /
        |  (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)) *
        |   sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))), 6) AS r
        |FROM m""".stripMargin,

    // same (gold, pred) cell frame + full-outer class union, ppm floor
    "q_confusion" ->
      """WITH pred AS (SELECT lang AS g,
        |  CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |       WHEN en = greatest(en, es, de, fr) THEN 'en'
        |       WHEN es = greatest(en, es, de, fr) THEN 'es'
        |       WHEN de = greatest(en, es, de, fr) THEN 'de'
        |       ELSE 'fr' END AS p
        |  FROM (SELECT lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|los|las|que|de|en|es|una?)\b')) AS es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|des|est|une?|et|dans|que)\b')) AS fr
        |    FROM documents)),
        |cells AS (SELECT g, p, count(*) AS n FROM pred GROUP BY 1, 2),
        |gt AS (SELECT g AS cls, CAST(sum(n) AS BIGINT) AS n_gold FROM cells GROUP BY 1),
        |pt AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
        |tp AS (SELECT g AS cls, n AS tp FROM cells WHERE g = p),
        |j AS (SELECT COALESCE(gt.cls, pt.cls) AS cls,
        |  COALESCE(n_gold, 0) AS n_gold, COALESCE(n_pred, 0) AS n_pred
        |  FROM gt FULL OUTER JOIN pt ON gt.cls = pt.cls),
        |f AS (SELECT j.cls, n_gold, n_pred, COALESCE(tp, 0) AS tp,
        |  CASE WHEN n_pred > 0 THEN CAST(COALESCE(tp, 0) * 1000000 // n_pred AS BIGINT) END AS precision_ppm,
        |  CASE WHEN n_gold > 0 THEN CAST(COALESCE(tp, 0) * 1000000 // n_gold AS BIGINT) END AS recall_ppm
        |  FROM j LEFT JOIN tp ON j.cls = tp.cls)
        |SELECT cls, n_gold, n_pred, tp, precision_ppm, recall_ppm,
        |  CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
        |    AND precision_ppm + recall_ppm > 0
        |    THEN CAST(2 * precision_ppm * recall_ppm
        |      // (precision_ppm + recall_ppm) AS BIGINT)
        |  END AS f1_ppm
        |FROM f ORDER BY cls""".stripMargin,

    // complete panels; reduced rational, sign-split closing floor
    "q_gwet" ->
      """WITH cells AS (SELECT l_orderkey AS i, l_returnflag AS c,
        |  CAST(count(*) AS BIGINT) AS o FROM lineitem GROUP BY 1, 2),
        |sized AS (SELECT i, c, o, sum(o) OVER (PARTITION BY i) AS m
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN m <> 4 THEN i END)
        |    AS BIGINT) AS n_dropped FROM sized),
        |kept AS (SELECT i, c, o FROM sized WHERE m = 4),
        |ba AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items,
        |  coalesce(sum(CAST(o AS HUGEINT) * (o - 1)), 0) AS a FROM kept),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  coalesce(sum(CAST(cj AS HUGEINT) *
        |    ((SELECT n_items FROM ba) * 4 - cj)), 0) AS s
        |  FROM (SELECT c, CAST(sum(o) AS BIGINT) AS cj FROM kept GROUP BY 1)),
        |f AS (SELECT n_items, n_dropped, CAST(4 AS BIGINT) AS n_raters, k,
        |  a, s, CAST(n_items AS HUGEINT) * 4 AS nn,
        |  CAST(n_items AS HUGEINT) * 4 * 3 AS d1,
        |  (k - 1) * CAST(n_items AS HUGEINT) * 4 * n_items * 4 AS d3
        |  FROM ba, pc, dr)
        |SELECT n_items, n_dropped, n_raters, k,
        |  CASE WHEN d1 > 0 THEN CAST(a * 1000000 // d1 AS BIGINT) END
        |    AS po_ppm,
        |  CASE WHEN d3 > 0 THEN CAST(s * 1000000 // d3 AS BIGINT) END
        |    AS pe_ppm,
        |  CASE WHEN d1 > 0 AND d3 - s > 0 THEN
        |    CAST(CASE WHEN a * (k - 1) * nn >= s * 3
        |      THEN (a * (k - 1) * nn - s * 3) * 1000000 // (3 * (d3 - s))
        |      ELSE -((s * 3 - a * (k - 1) * nn) * 1000000 // (3 * (d3 - s)))
        |    END AS BIGINT)
        |  END AS ac1_ppm
        |FROM f""".stripMargin,

    // variable-panel counts; 6dp per-unit terms, one // closing floor
    "q_kripp" ->
      """WITH cells AS (SELECT l_orderkey AS u, l_returnflag AS c,
        |  CAST(count(*) AS BIGINT) AS o FROM lineitem GROUP BY 1, 2),
        |sized AS (SELECT u, c, o, sum(o) OVER (PARTITION BY u) AS m
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN m < 2 THEN u END)
        |    AS BIGINT) AS n_dropped FROM sized),
        |kept AS (SELECT u, c, o, m FROM sized WHERE m >= 2),
        |pu AS (SELECT u, max(m) AS mu,
        |  CAST(round(sum(o * (m - o))::DOUBLE / (max(m) - 1)::DOUBLE, 6)
        |    AS DECIMAL(38,6)) AS du
        |  FROM kept GROUP BY 1),
        |ba AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |  CAST(coalesce(sum(mu), 0) AS BIGINT) AS n_pairable,
        |  coalesce(sum(du), 0) AS sdo FROM pu),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  coalesce(sum(CAST(nc AS HUGEINT) * nc), 0) AS b
        |  FROM (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM kept GROUP BY 1)),
        |f AS (SELECT n_units, dr.n_dropped, n_pairable, k,
        |  CAST(sdo * 1000000 AS HUGEINT) AS sdom,
        |  CAST(n_pairable AS HUGEINT) * n_pairable - b AS de
        |  FROM ba, pc, dr)
        |SELECT n_units, n_dropped, n_pairable, k,
        |  CASE WHEN de > 0 THEN
        |    1000000 - CAST(sdom * (n_pairable - 1) // de AS BIGINT)
        |  END AS alpha_ppm
        |FROM f""".stripMargin,

    // complete-panel counts; reduced exact rational, sign-split floor
    "q_fleiss" ->
      """WITH cells AS (SELECT l_orderkey AS i, l_returnflag AS c,
        |  CAST(count(*) AS BIGINT) AS o FROM lineitem GROUP BY 1, 2),
        |sized AS (SELECT i, c, o, sum(o) OVER (PARTITION BY i) AS m
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN m <> 4 THEN i END)
        |    AS BIGINT) AS n_dropped FROM sized),
        |kept AS (SELECT i, c, o FROM sized WHERE m = 4),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  coalesce(sum(CAST(cj AS HUGEINT) * cj), 0) AS b
        |  FROM (SELECT c, CAST(sum(o) AS BIGINT) AS cj FROM kept GROUP BY 1)),
        |ba AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items,
        |  coalesce(sum(CAST(o AS HUGEINT) * (o - 1)), 0) AS a FROM kept),
        |f AS (SELECT n_items, n_dropped, CAST(4 AS BIGINT) AS n_raters, k,
        |  a, b, CAST(n_items AS HUGEINT) * 4 * 3 AS d1,
        |  CAST(n_items AS HUGEINT) * 4 * n_items * 4 AS d2 FROM ba, pc, dr)
        |SELECT n_items, n_dropped, n_raters, k,
        |  CASE WHEN d1 > 0 THEN CAST(a * 1000000 // d1 AS BIGINT) END
        |    AS po_ppm,
        |  CASE WHEN d2 > 0 THEN CAST(b * 1000000 // d2 AS BIGINT) END
        |    AS pe_ppm,
        |  CASE WHEN d1 > 0 AND d2 - b > 0 THEN
        |    CAST(CASE WHEN a * n_items * 4 >= b * 3
        |      THEN (a * n_items * 4 - b * 3) * 1000000 // (3 * (d2 - b))
        |      ELSE -((b * 3 - a * n_items * 4) * 1000000 // (3 * (d2 - b)))
        |    END AS BIGINT)
        |  END AS kappa_ppm
        |FROM f""".stripMargin,

    // same cell frame + class margins; exact kappa ppm, 6dp MCC
    // same 5×5 grid; margins crossed for Σw·R·C, one HUGEINT floor
    "q_kappa_w" ->
      """WITH base AS (SELECT
        |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
        |  least(greatest(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      // 5000000 + 1, 1), 5) AS p
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT g, p, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |gold AS (SELECT g, CAST(sum(c) AS BIGINT) AS rg FROM cells GROUP BY 1),
        |pred AS (SELECT p, CAST(sum(c) AS BIGINT) AS cp FROM cells GROUP BY 1),
        |obs AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST((g - p) * (g - p) AS HUGEINT) * c) AS wo FROM cells),
        |ex AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k_gold,
        |  CAST(count(DISTINCT p) AS BIGINT) AS k_pred,
        |  sum(CAST((g - p) * (g - p) AS HUGEINT) * rg * cp) AS we
        |  FROM gold, pred)
        |SELECT n, k_gold, k_pred,
        |  CASE WHEN we > 0 THEN
        |    1000000 - CAST(CAST(n AS HUGEINT) * wo * 1000000 // we AS BIGINT)
        |  END AS kappa_w_ppm
        |FROM obs, ex""".stripMargin,

    "q_kappa" ->
      """WITH pred AS (SELECT lang AS g,
        |  CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |       WHEN en = greatest(en, es, de, fr) THEN 'en'
        |       WHEN es = greatest(en, es, de, fr) THEN 'es'
        |       WHEN de = greatest(en, es, de, fr) THEN 'de'
        |       ELSE 'fr' END AS p
        |  FROM (SELECT lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|los|las|que|de|en|es|una?)\b')) AS es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|des|est|une?|et|dans|que)\b')) AS fr
        |    FROM documents)),
        |cells AS (SELECT g, p, count(*) AS n FROM pred GROUP BY 1, 2),
        |gt AS (SELECT g AS cls, CAST(sum(n) AS BIGINT) AS tg FROM cells GROUP BY 1),
        |pt AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS tp FROM cells GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  sum(CAST(COALESCE(tg, 0) AS HUGEINT) * COALESCE(tp, 0)) AS s,
        |  sum(CAST(COALESCE(tg, 0) AS HUGEINT) * COALESCE(tg, 0)) AS st2,
        |  sum(CAST(COALESCE(tp, 0) AS HUGEINT) * COALESCE(tp, 0)) AS sp2
        |  FROM gt FULL OUTER JOIN pt USING (cls)),
        |b AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN g = p THEN n ELSE 0 END) AS BIGINT) AS a
        |  FROM cells)
        |SELECT n, n_classes,
        |  CAST(a * 1000000 // n AS BIGINT) AS po_ppm,
        |  CAST(s * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
        |  CASE WHEN CAST(n AS HUGEINT) * n - s > 0 THEN
        |    CAST((CAST(a AS HUGEINT) * n - s) * 1000000
        |      // (CAST(n AS HUGEINT) * n - s) AS BIGINT) END AS kappa_ppm,
        |  CASE WHEN CAST(n AS HUGEINT) * n - sp2 > 0
        |    AND CAST(n AS HUGEINT) * n - st2 > 0 THEN
        |    round(CAST(CAST(a AS HUGEINT) * n - s AS DOUBLE) /
        |      (sqrt(CAST(CAST(n AS HUGEINT) * n - sp2 AS DOUBLE)) *
        |       sqrt(CAST(CAST(n AS HUGEINT) * n - st2 AS DOUBLE))), 6)
        |  END AS mcc
        |FROM b, m""".stripMargin,

    // same fixed-point precision@k over a window-ranked total order;
    // AP floored to ppm so the output stays integer end-to-end
    "q_avg_precision" ->
      """WITH b AS (SELECT
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
        |  o_orderkey AS tie FROM orders),
        |r AS (SELECT y,
        |  sum(y) OVER (ORDER BY s DESC, tie ROWS UNBOUNDED PRECEDING) AS cum,
        |  row_number() OVER (ORDER BY s DESC, tie) AS rk FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CASE WHEN sum(y) > 0 THEN
        |    CAST(sum(CASE WHEN y = 1 THEN CAST(cum AS HUGEINT) * 1000000000000 // rk ELSE 0 END)
        |      // (sum(y) * 1000000) AS BIGINT) END AS ap_ppm
        |FROM r""".stripMargin,

    // same spine + anchor windows; DuckDB // floors like the pmod form
    "q_interp" ->
      """WITH daily AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT user_id, unnest(generate_series(lo, hi, 1)) AS day
        |  FROM (SELECT user_id, min(day) AS lo, max(day) AS hi
        |        FROM daily GROUP BY 1)),
        |j AS (SELECT s.user_id, s.day, d.cents,
        |  d.cents IS NULL AS is_gap FROM spine s
        |  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        |a AS (SELECT user_id, day, cents, is_gap,
        |  last_value(cents IGNORE NULLS) OVER wa AS pv,
        |  last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |    OVER wa AS pt,
        |  first_value(cents IGNORE NULLS) OVER wd AS nv,
        |  first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |    OVER wd AS nt
        |  FROM j WINDOW
        |  wa AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wd AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CAST(CASE WHEN cents IS NOT NULL THEN cents
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL
        |       THEN pv + ((nv - pv) * (day - pt)) // (nt - pt)
        |  END AS BIGINT) AS value_interp, is_gap
        |FROM a ORDER BY user_id, day""".stripMargin,

    // same brute cosine on the block, ranked both directions, mutual join
    "q_knn_graph" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q.embedding)),
        |    i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)), (a, x) -> a + x) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q.embedding)),
        |    i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)), (a, x) -> a + x)) *
        |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(c.embedding)),
        |    i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)), (a, x) -> a + x)) AS denom
        |  FROM v q JOIN v c ON q.vec_id != c.vec_id),
        |r AS (SELECT qid, nid,
        |  CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END AS cos,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC, nid)
        |    AS INTEGER) AS rank FROM s),
        |k AS (SELECT qid, nid, round(cos, 4) AS cosine, rank FROM r WHERE rank <= 5)
        |SELECT l.qid AS a, l.nid AS b, l.cosine, l.rank AS rank_a, h.rank AS rank_b
        |FROM k l JOIN k h ON l.qid = h.nid AND l.nid = h.qid AND l.qid < l.nid""".stripMargin,

    // same two filtered legs + at-or-after min join
    "q_ttc" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, from_us, min(tus) AS to_us,
        |  (min(tus) - from_us) // 1000000 AS delay_s
        |FROM f JOIN t2 ON f.user_id = t2.user_id AND tus >= from_us
        |GROUP BY 1, 2""".stripMargin,

    // same exact moments, PAA bucketing and breakpoint letters
    "q_sax" ->
      """WITH daily AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id AS k, day, cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i
        |  FROM daily),
        |st AS (SELECT k, count(*) AS n, sum(cents) AS s,
        |  sum(CAST(cents AS HUGEINT) * cents) AS q FROM b GROUP BY 1),
        |sg AS (SELECT b.k, (i * 8) // n AS seg, count(*) AS sn,
        |  sum(cents) AS ss, any_value(n) AS n, any_value(s) AS s,
        |  any_value(q) AS q
        |  FROM b JOIN st ON b.k = st.k GROUP BY 1, 2),
        |zz AS (SELECT k, seg, n, sigma,
        |  CASE WHEN sigma = 0 THEN 0.0
        |       ELSE (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE) - mu) / sigma
        |  END AS zv
        |  FROM (SELECT k, seg, sn, ss, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(q AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) AS sigma FROM sg)),
        |sym AS (SELECT k, seg, n,
        |  CASE WHEN sigma = 0 THEN 'b' WHEN zv < -0.6745 THEN 'a'
        |       WHEN zv < 0 THEN 'b' WHEN zv < 0.6745 THEN 'c'
        |       ELSE 'd' END AS sym FROM zz)
        |SELECT k AS user_id, any_value(n) AS n,
        |  string_agg(sym, '' ORDER BY seg) AS sax
        |FROM sym GROUP BY 1""".stripMargin,

    // same stub metadata + clipped 64px grid
    "q_patches" ->
      """WITH m AS (SELECT doc_id,
        |  CAST((length(text) % 512) + 64 AS BIGINT) AS w,
        |  CAST((length(text) % 384) + 64 AS BIGINT) AS h FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  unnest(generate_series(0, (w - 1) // 64)) AS px FROM m),
        |g2 AS (SELECT doc_id, w, h, px,
        |  unnest(generate_series(0, (h - 1) // 64)) AS py FROM g)
        |SELECT doc_id, px, py, px * 64 AS x0, py * 64 AS y0,
        |  least(64, w - px * 64) AS pw, least(64, h - py * 64) AS ph
        |FROM g2""".stripMargin,

    // same default-frame window trio over a tie-broken order
    "q_window_misc" ->
      """SELECT doc_id, lang, n_chars,
        |  lead(n_chars) OVER w AS next_chars,
        |  nth_value(n_chars, 2) OVER w AS second_smallest,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)""".stripMargin,

    // global argmin(dist, backward-first) == nearest of the two fills
    "q_asof_near" ->
      """WITH p AS (SELECT user_id AS k, epoch_us(ts::TIMESTAMP) AS pt,
        |  event_id AS pid FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS k, epoch_us(ts::TIMESTAMP) AS ct
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT pid, pt, ct, abs(pt - ct) AS dist,
        |  CASE WHEN ct <= pt THEN 0 ELSE 1 END AS fwd
        |  FROM p LEFT JOIN c ON p.k = c.k),
        |r AS (SELECT pid, ct, dist,
        |  row_number() OVER (PARTITION BY pid ORDER BY dist, fwd) AS rn FROM j)
        |SELECT pid, ct AS click_us, dist AS asof_dist FROM r WHERE rn = 1""".stripMargin,

    // same one-aggregate padding audit per 256-wide bucket
    "q_length_buckets" ->
      """SELECT n_chars // 256 AS bucket, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_len,
        |  max(n_chars) AS pad_target,
        |  CAST(max(n_chars) * count(*) - sum(n_chars) AS BIGINT) AS waste,
        |  CASE WHEN max(n_chars) > 0 THEN
        |    CAST((max(n_chars) * count(*) - sum(n_chars)) * 1000000
        |      // (max(n_chars) * count(*)) AS BIGINT) END AS waste_ppm
        |FROM documents WHERE n_chars >= 0 GROUP BY 1""".stripMargin,

    // same per-group CDF window + ceil(p*n) threshold
    "q_group_quantiles" ->
      """WITH counts AS (SELECT lang AS g, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        |q AS (SELECT CAST(0.5 AS DOUBLE) AS p UNION ALL SELECT CAST(0.9 AS DOUBLE))
        |SELECT cdf.g AS lang, p, min(v) AS value, nn.n
        |FROM cdf JOIN nn ON cdf.g = nn.g CROSS JOIN q
        |WHERE cum >= ceil(p * nn.n)
        |GROUP BY 1, 2, 4""".stripMargin,

    // same distinct trigram postings, df cap, min-normalized pairs
    "q_source_overlap" ->
      s"""WITH docs AS (SELECT source AS g,
         |  CASE WHEN len($W) < 3 THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 2),
         |      i -> array_to_string(($W)[i:i+2], ' ')) END AS sh
         |  FROM documents),
         |postings AS (SELECT DISTINCT g, unnest(sh) AS s FROM docs),
         |totals AS (SELECT g, count(*) AS tot FROM postings GROUP BY 1),
         |capped AS (SELECT p.g, p.s FROM postings p JOIN (
         |  SELECT s FROM postings GROUP BY s
         |  HAVING count(*) >= 2 AND count(*) <= 1000) r USING (s)),
         |pairs AS (SELECT l.g AS src_a, r.g AS src_b, count(*) AS shared
         |  FROM capped l JOIN capped r ON l.s = r.s AND l.g < r.g
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, shared, ta.tot AS n_a, tb.tot AS n_b,
         |  shared * 1000000 // least(ta.tot, tb.tot) AS containment_ppm
         |FROM pairs JOIN totals ta ON src_a = ta.g
         |JOIN totals tb ON src_b = tb.g""".stripMargin,

    // same tokenizer + subword fold; integer sums, two ppm floors
    "q_fertility" ->
      s"""WITH per AS (SELECT lang AS "group",
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(len($W)) AS BIGINT) AS n_words,
         |  CAST(sum(list_reduce(list_prepend(0::BIGINT,
         |    list_transform($W, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))),
         |    (a, x) -> a + x)) AS BIGINT) AS n_subwords
         |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
         |  GROUP BY 1)
         |SELECT "group", n_docs, n_chars, n_words, n_subwords,
         |  CAST(CASE WHEN n_subwords > 0 THEN
         |    n_chars * 1000000 // n_subwords END AS BIGINT)
         |    AS chars_per_subword_ppm,
         |  CAST(CASE WHEN n_words > 0 THEN
         |    n_subwords * 1000000 // n_words END AS BIGINT)
         |    AS fertility_ppm
         |FROM per ORDER BY 1""".stripMargin,

    // same tokenizer; dense grid rates, n-cleared HUGEINT variances,
    // the n·|Δr|/√S_w collapsed z-gap
    "q_burrows" ->
      s"""WITH toks AS (SELECT source AS s, unnest($W) AS w FROM documents
         |  WHERE source IS NOT NULL AND text IS NOT NULL),
         |counts AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c
         |  FROM toks GROUP BY 1, 2),
         |st AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM counts
         |  GROUP BY 1),
         |wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS t FROM counts
         |  GROUP BY 1),
         |top AS (SELECT w FROM (SELECT w,
         |  row_number() OVER (ORDER BY t DESC, w) AS rk FROM wt)
         |  WHERE rk <= 50),
         |dense AS (SELECT st.s, top.w,
         |  CAST(COALESCE(c, 0) * 1000000 // st.n AS BIGINT) AS r
         |  FROM st CROSS JOIN top LEFT JOIN counts
         |    ON counts.s = st.s AND counts.w = top.w),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM st),
         |stats AS (SELECT w, ns,
         |  ns::HUGEINT * sum(r::HUGEINT * r) -
         |    sum(r::HUGEINT) * sum(r::HUGEINT) AS sw
         |  FROM dense CROSS JOIN ns GROUP BY 1, 2),
         |pairs AS (SELECT a.s AS s1, b.s AS s2,
         |  CAST(CASE WHEN sw > 0 THEN
         |    round(CAST(ns AS DOUBLE) * CAST(abs(a.r - b.r) AS DOUBLE) /
         |      sqrt(CAST(sw AS DOUBLE)), 6)
         |  ELSE 0.0 END AS DECIMAL(18,6)) AS term
         |  FROM dense a JOIN dense b ON a.w = b.w AND a.s < b.s
         |  JOIN stats ON stats.w = a.w)
         |SELECT s1, s2, round(CAST(sum(term) AS DOUBLE) /
         |  CAST(count(*) AS DOUBLE), 6) AS delta
         |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same (group, word) counts folded to tokens/types/hapax
    "q_ttr" ->
      s"""WITH w AS (SELECT source AS g, unnest($W) AS word FROM documents),
         |c AS (SELECT g, word, count(*) AS n FROM w GROUP BY 1, 2)
         |SELECT g AS "group", CAST(sum(n) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS ttr_ppm,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
         |    AS BIGINT) AS hapax_ppm
         |FROM c GROUP BY 1""".stripMargin,

    // token-count spectrum sums; both floors on HUGEINT numerators
    "q_chao1" ->
      s"""WITH tc AS (SELECT word, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($W) AS word FROM documents) GROUP BY 1),
         |a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS f1,
         |  CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS f2 FROM tc)
         |SELECT n_tokens, vocab, f1, f2,
         |  vocab + CAST(CAST(f1 AS HUGEINT) * (f1 - 1) // (2 * (f2 + 1))
         |    AS BIGINT) AS chao1_est,
         |  CASE WHEN n_tokens > 0 THEN
         |    CAST((CAST(n_tokens AS HUGEINT) - f1) * 1000000 // n_tokens
         |      AS BIGINT)
         |  END AS coverage_ppm
         |FROM a""".stripMargin,

    // same token aggregate; one HUGEINT floor in milli-K units
    "q_yule" ->
      s"""WITH tc AS (SELECT word, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($W) AS word FROM documents) GROUP BY 1)
         |SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(coalesce(sum(CAST(c AS HUGEINT) * c), 0) AS BIGINT) AS s2,
         |  CASE WHEN sum(c) > 0 THEN
         |    CAST((coalesce(sum(CAST(c AS HUGEINT) * c), 0) - sum(c)) * 10000000
         |      // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT)
         |  END AS yule_k_milli
         |FROM tc""".stripMargin,

    // same top-k rank frame, 6dp decimal log terms, one OLS shape
    "q_zipf" ->
      s"""WITH counts AS (SELECT word, count(*) AS c FROM (
         |  SELECT unnest($W) AS word FROM documents)
         |  GROUP BY 1 ORDER BY c DESC, word LIMIT 100),
         |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, word)
         |  AS DOUBLE) AS rk FROM counts),
         |terms AS (SELECT
         |  CAST(round(ln(rk), 6) AS DECIMAL(18,6)) AS x,
         |  CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y,
         |  CAST(round(ln(rk) * ln(rk), 6) AS DECIMAL(18,6)) AS xx,
         |  CAST(round(ln(rk) * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS xy
         |  FROM r),
         |m AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
         |  sum(xx) AS sxx, sum(xy) AS sxy FROM terms)
         |SELECT k,
         |  round(CAST(k * sxy - sx * sy AS DOUBLE) /
         |        CAST(k * sxx - sx * sx AS DOUBLE), 6) AS slope,
         |  round((CAST(sy AS DOUBLE) -
         |    (CAST(k * sxy - sx * sy AS DOUBLE) /
         |     CAST(k * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
         |    CAST(k AS DOUBLE), 6) AS intercept
         |FROM m""".stripMargin,

    // same first-occurrence vocab walk + cumulative OLS, 6dp terms
    "q_heaps" ->
      s"""WITH d AS (SELECT doc_id AS id, $W AS ws FROM documents),
         |dd AS (SELECT id, CAST(len(ws) AS BIGINT) AS nt FROM d
         |  WHERE len(ws) > 0),
         |fs AS (SELECT w, min(id) AS fd FROM (
         |  SELECT id, unnest(ws) AS w FROM d) GROUP BY 1),
         |nv AS (SELECT fd AS id, CAST(count(*) AS BIGINT) AS nv FROM fs GROUP BY 1),
         |j AS (SELECT dd.id, nt, COALESCE(nv, 0) AS nv
         |  FROM dd LEFT JOIN nv ON dd.id = nv.id),
         |cum AS (SELECT nt, nv,
         |  CAST(sum(nt) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS t,
         |  CAST(sum(nv) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v
         |  FROM j),
         |terms AS (SELECT nt, nv,
         |  CAST(round(ln(t::DOUBLE), 6) AS DECIMAL(38,6)) AS x,
         |  CAST(round(ln(v::DOUBLE), 6) AS DECIMAL(38,6)) AS y,
         |  CAST(round(ln(t::DOUBLE) * ln(t::DOUBLE), 6) AS DECIMAL(38,6)) AS xx,
         |  CAST(round(ln(t::DOUBLE) * ln(v::DOUBLE), 6) AS DECIMAL(38,6)) AS xy
         |  FROM cum),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens, CAST(sum(nv) AS BIGINT) AS vocab,
         |  sum(x) AS sx, sum(y) AS sy, sum(xx) AS sxx, sum(xy) AS sxy FROM terms)
         |SELECT n_docs, n_tokens, vocab,
         |  CASE WHEN n_docs >= 2 THEN
         |    round(CAST(n_docs * sxy - sx * sy AS DOUBLE) /
         |      CAST(n_docs * sxx - sx * sx AS DOUBLE), 6) END AS beta,
         |  CASE WHEN n_docs >= 2 THEN
         |    round((CAST(sy AS DOUBLE) -
         |      (CAST(n_docs * sxy - sx * sy AS DOUBLE) /
         |       CAST(n_docs * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
         |      CAST(n_docs AS DOUBLE), 6) END AS ln_k
         |FROM agg""".stripMargin,

    // same per-bin 6dp REL/RES/ECE terms over exact counts
    "q_brier" ->
      """WITH b AS (SELECT (l_partkey % 1000) * 1000 AS p,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem),
        |bins AS (SELECT p, count(*) AS nb, CAST(sum(y) AS BIGINT) AS pos
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS npos,
        |  CAST(count(*) AS BIGINT) AS n_bins FROM bins),
        |terms AS (SELECT n, n_bins, npos,
        |  CAST(round(nb::DOUBLE * (p::DOUBLE / 1000000.0 - pos::DOUBLE / nb::DOUBLE)
        |    * (p::DOUBLE / 1000000.0 - pos::DOUBLE / nb::DOUBLE), 6)
        |    AS DECIMAL(38,6)) AS rel,
        |  CAST(round(nb::DOUBLE * (pos::DOUBLE / nb::DOUBLE - npos::DOUBLE / n::DOUBLE)
        |    * (pos::DOUBLE / nb::DOUBLE - npos::DOUBLE / n::DOUBLE), 6)
        |    AS DECIMAL(38,6)) AS res,
        |  CAST(round(nb::DOUBLE * abs(p::DOUBLE / 1000000.0 - pos::DOUBLE / nb::DOUBLE), 6)
        |    AS DECIMAL(38,6)) AS ece
        |  FROM bins, tot),
        |agg AS (SELECT n, n_bins, npos, sum(rel) AS srel, sum(res) AS sres,
        |  sum(ece) AS sece FROM terms GROUP BY 1, 2, 3)
        |SELECT n, n_bins,
        |  round(srel::DOUBLE / n::DOUBLE, 6) AS reliability,
        |  round(sres::DOUBLE / n::DOUBLE, 6) AS resolution,
        |  round((npos::DOUBLE / n::DOUBLE) * (1.0 - npos::DOUBLE / n::DOUBLE), 6)
        |    AS uncertainty,
        |  round(srel::DOUBLE / n::DOUBLE - sres::DOUBLE / n::DOUBLE +
        |    (npos::DOUBLE / n::DOUBLE) * (1.0 - npos::DOUBLE / n::DOUBLE), 6)
        |    AS brier,
        |  round(sece::DOUBLE / n::DOUBLE, 6) AS ece
        |FROM agg""".stripMargin,

    // same micro-nat log-space cumprod over the per-duration frame
    // the q_survival KM chain + a lead window, rounded-S step areas
    // clipped at tau, exact decimal term sums
    "q_rmst" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT f.user_id, (min(tus) - from_us) // 1000000 AS delay_s
        |  FROM f JOIN t2 ON f.user_id = t2.user_id AND tus >= from_us
        |  GROUP BY 1, from_us),
        |l AS (SELECT user_id, max(epoch_us(ts::TIMESTAMP)) AS last_us
        |  FROM events GROUP BY 1),
        |subj AS (SELECT CASE WHEN delay_s IS NOT NULL THEN delay_s
        |    ELSE (last_us - from_us) // 1000000 END AS t,
        |  CASE WHEN delay_s IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM f JOIN l USING (user_id) LEFT JOIN conv USING (user_id)),
        |agg AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
        |  CAST(sum(1 - e) AS BIGINT) AS c FROM subj GROUP BY 1),
        |w1 AS (SELECT t, d, c,
        |  sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumrem
        |  FROM agg),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM subj),
        |r AS (SELECT t, d, c, CAST(n - cumrem + d + c AS BIGINT) AS n_risk
        |  FROM w1 CROSS JOIN nn),
        |tm AS (SELECT t, n_risk, d,
        |  CASE WHEN d > 0 AND d < n_risk THEN
        |    CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      * 1000000) AS BIGINT) ELSE 0 END AS term,
        |  CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead FROM r),
        |km AS (SELECT t,
        |  CASE WHEN sum(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      > 0 THEN 0.0
        |    ELSE round(exp(CAST(sum(term) OVER (ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0), 6)
        |  END AS s FROM tm),
        |t0 AS (SELECT min(t) AS t0 FROM km),
        |st AS (SELECT s,
        |  least(COALESCE(lead(t) OVER (ORDER BY t), 2592000), 2592000)
        |    - t AS dt
        |  FROM km WHERE t < 2592000),
        |area AS (SELECT COALESCE(sum(CAST(s AS DECIMAL(18,6)) * dt), 0)
        |  AS a FROM st WHERE dt > 0)
        |SELECT CAST(2592000 AS BIGINT) AS tau, n,
        |  CASE WHEN n > 0 THEN
        |    round(CAST(CAST(least(COALESCE(t0, 2592000), 2592000)
        |      AS DECIMAL(38,6)) + a AS DOUBLE), 6)
        |  END AS rmst
        |FROM nn CROSS JOIN t0 CROSS JOIN area""".stripMargin,

    "q_survival" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT f.user_id, (min(tus) - from_us) // 1000000 AS delay_s
        |  FROM f JOIN t2 ON f.user_id = t2.user_id AND tus >= from_us
        |  GROUP BY 1, from_us),
        |l AS (SELECT user_id, max(epoch_us(ts::TIMESTAMP)) AS last_us
        |  FROM events GROUP BY 1),
        |subj AS (SELECT CASE WHEN delay_s IS NOT NULL THEN delay_s
        |    ELSE (last_us - from_us) // 1000000 END AS t,
        |  CASE WHEN delay_s IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM f JOIN l USING (user_id) LEFT JOIN conv USING (user_id)),
        |agg AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
        |  CAST(sum(1 - e) AS BIGINT) AS c FROM subj GROUP BY 1),
        |w1 AS (SELECT t, d, c,
        |  sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumrem
        |  FROM agg),
        |nn AS (SELECT count(*) AS n FROM subj),
        |r AS (SELECT t, d, c, CAST(n - cumrem + d + c AS BIGINT) AS n_risk
        |  FROM w1 CROSS JOIN nn),
        |tm AS (SELECT t, n_risk, d, c,
        |  CASE WHEN d > 0 AND d < n_risk THEN
        |    CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      * 1000000) AS BIGINT) ELSE 0 END AS term,
        |  CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead FROM r)
        |SELECT t, n_risk, d, c,
        |  CASE WHEN sum(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) > 0
        |    THEN 0.0
        |    ELSE round(exp(CAST(sum(term) OVER (ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0), 6)
        |  END AS survival
        |FROM tm""".stripMargin,

    // same subjects frame; exact ppm floor hazard increments, cumulated
    "q_survival_na" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT f.user_id, (min(tus) - from_us) // 1000000 AS delay_s
        |  FROM f JOIN t2 ON f.user_id = t2.user_id AND tus >= from_us
        |  GROUP BY 1, from_us),
        |l AS (SELECT user_id, max(epoch_us(ts::TIMESTAMP)) AS last_us
        |  FROM events GROUP BY 1),
        |subj AS (SELECT CASE WHEN delay_s IS NOT NULL THEN delay_s
        |    ELSE (last_us - from_us) // 1000000 END AS t,
        |  CASE WHEN delay_s IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM f JOIN l USING (user_id) LEFT JOIN conv USING (user_id)),
        |agg AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
        |  CAST(sum(1 - e) AS BIGINT) AS c FROM subj GROUP BY 1),
        |w1 AS (SELECT t, d, c,
        |  sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumrem
        |  FROM agg),
        |nn AS (SELECT count(*) AS n FROM subj),
        |r AS (SELECT t, d, c, CAST(n - cumrem + d + c AS BIGINT) AS n_risk
        |  FROM w1 CROSS JOIN nn),
        |tm AS (SELECT t, n_risk, d, c,
        |  CASE WHEN n_risk > 0 THEN d * 1000000 // n_risk ELSE 0 END AS term
        |  FROM r)
        |SELECT t, n_risk, d, c,
        |  CAST(sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS hazard_ppm
        |FROM tm""".stripMargin,

    // same subjects + arms; identical ppm floor terms and final div
    "q_logrank" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT f.user_id, (min(tus) - from_us) // 1000000 AS delay_s
        |  FROM f JOIN t2 ON f.user_id = t2.user_id AND tus >= from_us
        |  GROUP BY 1, from_us),
        |l AS (SELECT user_id, max(epoch_us(ts::TIMESTAMP)) AS last_us
        |  FROM events GROUP BY 1),
        |subj AS (SELECT CASE WHEN delay_s IS NOT NULL THEN delay_s
        |    ELSE (last_us - from_us) // 1000000 END AS t,
        |  CASE WHEN delay_s IS NOT NULL THEN 1 ELSE 0 END AS e,
        |  user_id % 2 = 0 AS a
        |  FROM f JOIN l USING (user_id) LEFT JOIN conv USING (user_id)),
        |agg AS (SELECT t,
        |  CAST(sum(CASE WHEN a THEN e ELSE 0 END) AS BIGINT) AS da,
        |  CAST(sum(CASE WHEN a THEN 1 - e ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN NOT a THEN e ELSE 0 END) AS BIGINT) AS db,
        |  CAST(sum(CASE WHEN NOT a THEN 1 - e ELSE 0 END) AS BIGINT) AS cb
        |  FROM subj GROUP BY 1),
        |nn AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na0,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb0
        |  FROM subj),
        |r AS (SELECT t, da, db,
        |  na0 - sum(da + ca) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |    + da + ca AS nat,
        |  nb0 - sum(db + cb) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |    + db + cb AS nbt,
        |  na0, nb0 FROM agg CROSS JOIN nn),
        |tm AS (SELECT na0, nb0, da,
        |  CASE WHEN nat + nbt > 1 AND da + db > 0 THEN
        |    (da + db)::HUGEINT * nat * 1000000 // (nat + nbt) ELSE 0 END AS et,
        |  CASE WHEN nat + nbt > 1 AND da + db > 0 THEN
        |    (da + db)::HUGEINT * nat * nbt * (nat + nbt - da - db) * 1000000
        |      // ((nat + nbt)::HUGEINT * (nat + nbt) * (nat + nbt - 1))
        |    ELSE 0 END AS vt
        |  FROM r),
        |s AS (SELECT max(na0) AS n_a, max(nb0) AS n_b,
        |  CAST(sum(da) AS BIGINT) AS o_a, CAST(sum(et) AS BIGINT) AS e_a_ppm,
        |  CAST(sum(vt) AS BIGINT) AS v_ppm FROM tm)
        |SELECT n_a, n_b, o_a, e_a_ppm, v_ppm,
        |  CASE WHEN v_ppm > 0 THEN
        |    CAST((o_a::HUGEINT * 1000000 - e_a_ppm) *
        |      (o_a::HUGEINT * 1000000 - e_a_ppm) // v_ppm AS BIGINT)
        |  END AS chi2_ppm
        |FROM s""".stripMargin,

    // same corpus-fit bigram MLE + 6dp decimal ln-term sums
    "q_seq_nll" ->
      """WITH e AS (SELECT user_id AS k, event_type AS a,
        |  epoch_us(ts::TIMESTAMP) AS us, event_id FROM events),
        |p AS (SELECT k, a,
        |  lead(a) OVER (PARTITION BY k ORDER BY us, event_id) AS b FROM e),
        |pp AS (SELECT k, a, b FROM p WHERE b IS NOT NULL),
        |bi AS (SELECT a, b, count(*) AS nab FROM pp GROUP BY 1, 2),
        |un AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM bi GROUP BY 1)
        |SELECT k AS user_id, count(*) AS n_steps,
        |  round(CAST(sum(CAST(round(
        |    ln(CAST(na AS DOUBLE) / CAST(nab AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS nll,
        |  round(CAST(sum(CAST(round(
        |    ln(CAST(na AS DOUBLE) / CAST(nab AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS avg_nll
        |FROM pp JOIN bi USING (a, b) JOIN un USING (a) GROUP BY 1""".stripMargin,

    // same integer fold arithmetic summarized per (fold, role)
    "q_backtest" ->
      """WITH e AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |  AS day FROM events),
        |m AS (SELECT min(day) AS t0 FROM e),
        |x AS (SELECT day, day - t0 AS rel, f.fold
        |  FROM e CROSS JOIN m
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS fold) f),
        |r AS (SELECT CAST(fold AS INTEGER) AS fold, day,
        |  CASE WHEN rel < 30 + fold * 15 THEN 'train'
        |       WHEN rel < 30 + (fold + 1) * 15 THEN 'test' END AS role
        |  FROM x)
        |SELECT fold, role, count(*) AS n, min(day) AS min_day,
        |  max(day) AS max_day
        |FROM r WHERE role IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // same 7-scaled integer deviations over the rows-frame MA
    "q_seasonal" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS xs
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT g, d, xs,
        |  CAST(sum(xs) OVER f AS BIGINT) AS w7, count(*) OVER f AS cnt
        |  FROM daily WINDOW f AS (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dev AS (SELECT g, d % 7 AS pos, xs * 7 - w7 AS dv
        |  FROM w WHERE cnt = 7)
        |SELECT g AS event_type, pos, count(*) AS n,
        |  CAST(sum(dv) AS BIGINT) AS sum_dev,
        |  CAST(sum(dv) // count(*) AS BIGINT) AS avg_dev
        |FROM dev GROUP BY 1, 2""".stripMargin,

    // same integer-ppm pairwise slopes + grouped exact median
    // same per-unit flags, exact integer Q
    "q_cochran_q" ->
      """WITH per AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x0,
        |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x1,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x2
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |  CAST(sum(x0 + x1 + x2) AS BIGINT) AS N,
        |  CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS R2,
        |  CAST(sum(x0) AS BIGINT) AS c0, CAST(sum(x1) AS BIGINT) AS c1,
        |  CAST(sum(x2) AS BIGINT) AS c2 FROM per)
        |SELECT n_units, CAST(3 AS BIGINT) AS k, N AS n_success,
        |  CASE WHEN 3 * N - R2 > 0 THEN
        |    CAST(2::HUGEINT *
        |      (3::HUGEINT * (c0::HUGEINT * c0 + c1::HUGEINT * c1
        |        + c2::HUGEINT * c2) - N::HUGEINT * N) * 1000000
        |      // (3 * N - R2) AS BIGINT) END AS q_ppm
        |FROM t""".stripMargin,

    // same complete-block doubled midranks + tie-corrected chi2
    "q_friedman" ->
      """WITH cells AS (SELECT user_id AS b, event_type AS t,
        |  CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('click', 'view', 'purchase') GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |sized AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS bn
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN bn <> kk.k THEN b END)
        |    AS BIGINT) AS n_dropped FROM sized, kk),
        |ranked AS (SELECT b, t, v,
        |  rank() OVER (PARTITION BY b ORDER BY v) AS rk,
        |  count(*) OVER (PARTITION BY b, v) AS ties
        |  FROM sized, kk WHERE bn = kk.k),
        |mr AS (SELECT b, t, 2 * rk + ties - 1 AS mr2 FROM ranked),
        |pt AS (SELECT t, count(*) AS n, CAST(sum(mr2) AS BIGINT) AS rj,
        |  sum(mr2::HUGEINT * mr2) AS a FROM mr GROUP BY 1),
        |agg AS (SELECT max(n) AS n_blocks, kk.k AS k,
        |  sum((rj::HUGEINT - n::HUGEINT * (kk.k + 1)) *
        |      (rj::HUGEINT - n::HUGEINT * (kk.k + 1))) AS num,
        |  sum(a) AS aa, max(n::HUGEINT * kk.k * (kk.k + 1) * (kk.k + 1)) AS cc
        |  FROM pt, kk GROUP BY kk.k)
        |SELECT CAST(n_blocks AS BIGINT) AS n_blocks, dr.n_dropped,
        |  CAST(k AS BIGINT) AS k,
        |  CASE WHEN aa - cc > 0 THEN
        |    CAST((k - 1)::HUGEINT * num * 1000000 // (aa - cc) AS BIGINT)
        |  END AS chi2_ppm
        |FROM agg, dr""".stripMargin,

    // row_number top-k per week; +1-shifted self-join, ppm Jaccard
    "q_topk_turnover" ->
      """WITH weekly AS (SELECT
        |  (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS t,
        |  user_id AS k,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS w
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |top AS (SELECT t, k FROM (SELECT t, k,
        |  row_number() OVER (PARTITION BY t ORDER BY w DESC, k) AS rn
        |  FROM weekly) WHERE rn <= 10),
        |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM top
        |  GROUP BY 1),
        |iv AS (SELECT a.t, CAST(count(*) AS BIGINT) AS i
        |  FROM top a JOIN top b ON a.k = b.k AND a.t = b.t + 1
        |  GROUP BY 1)
        |SELECT CAST(cur.t AS BIGINT) AS tick, prev.n AS k_prev,
        |  cur.n AS k_cur, COALESCE(iv.i, 0) AS inter,
        |  CAST(COALESCE(iv.i, 0) * 1000000 //
        |    (prev.n + cur.n - COALESCE(iv.i, 0)) AS BIGINT)
        |    AS jaccard_ppm
        |FROM sz cur JOIN sz prev ON cur.t = prev.t + 1
        |LEFT JOIN iv ON iv.t = cur.t
        |ORDER BY 1""".stripMargin,

    // same per-group CDF; closed-tail conditional sums, micros floor
    "q_cvar" ->
      """WITH cells AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c,
        |  sum(c) OVER (PARTITION BY g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g) AS n FROM cells),
        |qv AS (SELECT g, CAST(max(n) AS BIGINT) AS n, min(v) AS q
        |  FROM cdf WHERE cum >= ceil(0.95 * n) GROUP BY 1),
        |tl AS (SELECT cells.g,
        |  CAST(sum(CASE WHEN v >= q THEN c ELSE 0 END) AS BIGINT)
        |    AS tail_n,
        |  COALESCE(sum(CASE WHEN v >= q THEN v::HUGEINT * c END), 0)
        |    AS ts
        |  FROM cells JOIN qv ON cells.g = qv.g GROUP BY 1)
        |SELECT qv.g AS event_type, n, q AS var_value, tail_n,
        |  CAST(CASE WHEN tail_n > 0 THEN ts * 1000000 // tail_n END
        |    AS BIGINT) AS cvar_micros
        |FROM qv JOIN tl ON qv.g = tl.g ORDER BY 1""".stripMargin,

    // same per-group CDF; ceil-div (n+1) rank, conditional min
    "q_conformal" ->
      """WITH cells AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c,
        |  sum(c) OVER (PARTITION BY g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g) AS n FROM cells),
        |mm AS (SELECT g, v, cum, CAST(n AS BIGINT) AS n,
        |  ((n + 1) * 900000 + 999999) // 1000000 AS m FROM cdf)
        |SELECT g AS event_type, n, CAST(m AS BIGINT) AS m,
        |  CAST(min(CASE WHEN cum >= m THEN v END) AS BIGINT) AS qhat
        |FROM mm GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // friedman's blocks + a range-midrank CDF; ×16 doublings cancel
    "q_quade" ->
      """WITH cells AS (SELECT user_id AS b, event_type AS t,
        |  CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('click', 'view', 'purchase') GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |sized AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS bn
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN bn <> kk.k THEN b END)
        |    AS BIGINT) AS n_dropped FROM sized, kk),
        |kept AS (SELECT b, t, v FROM sized, kk WHERE bn = kk.k),
        |ranked AS (SELECT b, t, v,
        |  rank() OVER (PARTITION BY b ORDER BY v) AS rk,
        |  count(*) OVER (PARTITION BY b, v) AS ties
        |  FROM kept),
        |mr AS (SELECT b, t, 2 * rk + ties - 1 AS mr2 FROM ranked),
        |rg AS (SELECT b, max(v) - min(v) AS r FROM kept GROUP BY 1),
        |rc AS (SELECT r, count(*) AS c FROM rg GROUP BY 1),
        |rr AS (SELECT r, 2 * (sum(c) OVER (ORDER BY r
        |  ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS q2 FROM rc),
        |bq AS (SELECT b, q2 FROM rg JOIN rr ON rg.r = rr.r),
        |uu AS (SELECT mr.t, q2 * (mr2 - (kk.k + 1)) AS u
        |  FROM mr JOIN bq ON mr.b = bq.b CROSS JOIN kk),
        |pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
        |  sum(u::HUGEINT) AS sj, sum(u::HUGEINT * u) AS a
        |  FROM uu GROUP BY 1),
        |agg AS (SELECT max(n) AS n_blocks,
        |  CAST(count(*) AS BIGINT) AS k,
        |  sum(sj * sj) AS b2, sum(a) AS aa FROM pt)
        |SELECT CAST(n_blocks AS BIGINT) AS n_blocks, dr.n_dropped,
        |  k,
        |  CASE WHEN n_blocks >= 2 AND n_blocks::HUGEINT * aa - b2 > 0 THEN
        |    CAST((n_blocks - 1)::HUGEINT * b2 * 1000000 //
        |      (n_blocks::HUGEINT * aa - b2) AS BIGINT)
        |  END AS f_ppm
        |FROM agg, dr""".stripMargin,

    // friedman's midrank core keyed by DAY, chi2 and W ppm floors
    "q_kendall_w" ->
      """WITH cells AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
        |  CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL
        |    AND event_type IN ('click', 'view', 'purchase') GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |sized AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS bn
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN bn <> kk.k THEN b END)
        |    AS BIGINT) AS n_dropped FROM sized, kk),
        |ranked AS (SELECT b, t, v,
        |  rank() OVER (PARTITION BY b ORDER BY v) AS rk,
        |  count(*) OVER (PARTITION BY b, v) AS ties
        |  FROM sized, kk WHERE bn = kk.k),
        |mr AS (SELECT b, t, 2 * rk + ties - 1 AS mr2 FROM ranked),
        |pt AS (SELECT t, count(*) AS n, CAST(sum(mr2) AS BIGINT) AS rj,
        |  sum(mr2::HUGEINT * mr2) AS a FROM mr GROUP BY 1),
        |agg AS (SELECT max(n) AS n_blocks, kk.k AS k,
        |  sum((rj::HUGEINT - n::HUGEINT * (kk.k + 1)) *
        |      (rj::HUGEINT - n::HUGEINT * (kk.k + 1))) AS num,
        |  sum(a) AS aa, max(n::HUGEINT * kk.k * (kk.k + 1) * (kk.k + 1)) AS cc
        |  FROM pt, kk GROUP BY kk.k)
        |SELECT CAST(n_blocks AS BIGINT) AS n_blocks, dr.n_dropped,
        |  CAST(k AS BIGINT) AS k,
        |  CASE WHEN aa - cc > 0 THEN
        |    CAST((k - 1)::HUGEINT * num * 1000000 // (aa - cc) AS BIGINT)
        |  END AS chi2_ppm,
        |  CASE WHEN aa - cc > 0 THEN
        |    CAST(num * 1000000 // (n_blocks::HUGEINT * (aa - cc)) AS BIGINT)
        |  END AS w_ppm
        |FROM agg, dr""".stripMargin,

    // same complete-block midranks, position-weighted rank sums, one
    // ppm floor against the no-tie variance
    "q_page" ->
      """WITH cells AS (SELECT user_id AS b,
        |  CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END
        |    AS t,
        |  CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('click', 'view', 'purchase') GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |sized AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS bn
        |  FROM cells),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN bn <> kk.k THEN b END)
        |    AS BIGINT) AS n_dropped FROM sized, kk),
        |ranked AS (SELECT b, t, v,
        |  rank() OVER (PARTITION BY b ORDER BY v) AS rk,
        |  count(*) OVER (PARTITION BY b, v) AS ties
        |  FROM sized, kk WHERE bn = kk.k),
        |mr AS (SELECT t, 2 * rk + ties - 1 AS mr2 FROM ranked),
        |pt AS (SELECT t, CAST(count(*) AS BIGINT) AS nb,
        |  CAST(sum(mr2) AS HUGEINT) AS rj FROM mr GROUP BY 1),
        |wt AS (SELECT max(nb) AS n_blocks,
        |  sum(CAST(j AS HUGEINT) * rj) AS l2 FROM
        |  (SELECT nb, rj, rank() OVER (ORDER BY t) AS j FROM pt)),
        |z AS (SELECT CAST(n_blocks AS BIGINT) AS n_blocks, dr.n_dropped,
        |  CAST(kk.k AS BIGINT) AS k, CAST(l2 AS BIGINT) AS l2,
        |  CAST(CAST(n_blocks AS HUGEINT) * kk.k * (kk.k + 1) * (kk.k + 1)
        |    // 2 AS BIGINT) AS e2,
        |  CASE WHEN CAST(n_blocks AS HUGEINT) * kk.k * kk.k * (kk.k + 1) *
        |      (kk.k * kk.k - 1) > 0 THEN
        |    CAST((l2 - CAST(n_blocks AS HUGEINT) * kk.k * (kk.k + 1) *
        |        (kk.k + 1) // 2) *
        |      (l2 - CAST(n_blocks AS HUGEINT) * kk.k * (kk.k + 1) *
        |        (kk.k + 1) // 2) * 36 * 1000000
        |      // (CAST(n_blocks AS HUGEINT) * kk.k * kk.k * (kk.k + 1) *
        |        (kk.k * kk.k - 1)) AS BIGINT)
        |  END AS z2_ppm
        |  FROM wt, dr, kk)
        |SELECT n_blocks, n_dropped, k, l2, e2, z2_ppm,
        |  z2_ppm > 3841459 AS trend_95, z2_ppm > 6634897 AS trend_99
        |FROM z""".stripMargin,

    // same daily series; window CDF + QUALIFY-style argmax via row_number
    "q_changepoint" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |sc AS (SELECT g, d,
        |  count(*) OVER (PARTITION BY g ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS t,
        |  sum(xs) OVER (PARTITION BY g ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS st,
        |  count(*) OVER (PARTITION BY g) AS n,
        |  sum(xs) OVER (PARTITION BY g) AS sn
        |  FROM daily),
        |dd AS (SELECT g, d, t, n,
        |  n::HUGEINT * st - t::HUGEINT * sn AS dt,
        |  (sn::HUGEINT - st) * t - st::HUGEINT * (n - t) AS num,
        |  t::HUGEINT * (n - t) AS den
        |  FROM sc WHERE t < n),
        |best AS (SELECT g, n, abs(dt) AS a, d, num, den,
        |  row_number() OVER (PARTITION BY g ORDER BY abs(dt) DESC, d ASC) AS rk
        |  FROM dd)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(a AS BIGINT) AS max_abs_d, d AS at_day,
        |  CAST(num AS BIGINT) AS shift_num, CAST(den AS BIGINT) AS shift_den
        |FROM best WHERE rk = 1 ORDER BY 1""".stripMargin,

    // per-(user, type) count cells; HUGEINT n-cleared variances into
    // one IEEE division
    "q_cronbach" ->
      """WITH cells AS (SELECT user_id AS u, event_type AS i,
        |  CAST(count(*) AS BIGINT) AS x FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |nk AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n,
        |  CAST(count(DISTINCT i) AS BIGINT) AS k FROM cells),
        |si AS (SELECT COALESCE(sum(nk.n::HUGEINT * sxx - sx * sx), 0)
        |    AS s_items
        |  FROM (SELECT i, sum(x::HUGEINT) AS sx,
        |    sum(x::HUGEINT * x) AS sxx FROM cells GROUP BY 1)
        |  CROSS JOIN nk),
        |tt AS (SELECT COALESCE(sum(t::HUGEINT), 0) AS st,
        |  COALESCE(sum(t::HUGEINT * t), 0) AS stt
        |  FROM (SELECT u, sum(x) AS t FROM cells GROUP BY 1)),
        |fin AS (SELECT n, k, s_items,
        |  nk.n::HUGEINT * stt - st * st AS s_tot
        |  FROM nk CROSS JOIN si CROSS JOIN tt)
        |SELECT n AS n_units, k AS k_items,
        |  CASE WHEN k >= 2 AND s_tot > 0 THEN
        |    round(CAST(k::HUGEINT * (s_tot - s_items) AS DOUBLE) /
        |      CAST((k::HUGEINT - 1) * s_tot AS DOUBLE), 6)
        |  END AS alpha
        |FROM fin""".stripMargin,

    // complete 4-line panels; cleared one-way ANOVA ratio in HUGEINT
    "q_icc" ->
      """WITH per AS (SELECT l_orderkey AS u, CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS t,
        |  sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) *
        |    CAST(l_quantity AS BIGINT)) AS q
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |dr AS (SELECT CAST(count(DISTINCT CASE WHEN m <> 4 THEN u END)
        |  AS BIGINT) AS n_dropped FROM per),
        |kp AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  COALESCE(sum(t::HUGEINT), 0) AS g,
        |  COALESCE(sum(t::HUGEINT * t), 0) AS stt,
        |  COALESCE(sum(q), 0) AS sxx
        |  FROM per WHERE m = 4),
        |fin AS (SELECT n, n_dropped,
        |  n::HUGEINT * stt - g * g AS p,
        |  n::HUGEINT * 4 * sxx - n::HUGEINT * stt AS q2
        |  FROM kp CROSS JOIN dr)
        |SELECT n AS n_units, n_dropped, CAST(4 AS BIGINT) AS k_raters,
        |  CASE WHEN n >= 2 AND 3 * (p * n + q2 * (n - 1)) > 0 THEN
        |    round(CAST(p * n * 3 - q2 * (n - 1) AS DOUBLE) /
        |      CAST(3 * (p * n + q2 * (n - 1)) AS DOUBLE), 6)
        |  END AS icc
        |FROM fin""".stripMargin,

    // same daily series; grouped exact median, lag-counted runs,
    // integer moment ratios into one IEEE z shape
    "q_runs" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |counts AS (SELECT g, xs AS v, count(*) AS c FROM daily
        |  GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        |med AS (SELECT cdf.g, min(v) AS med FROM cdf JOIN nn
        |  ON cdf.g = nn.g WHERE cum >= ceil(0.5 * nn.n) GROUP BY 1),
        |sg AS (SELECT daily.g, d,
        |  CASE WHEN xs > med THEN 1 ELSE -1 END AS s
        |  FROM daily JOIN med ON daily.g = med.g WHERE xs <> med),
        |lg AS (SELECT g, s, lag(s) OVER (PARTITION BY g ORDER BY d)
        |  AS prev FROM sg),
        |ag AS (SELECT g,
        |  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
        |    AS BIGINT) AS runs
        |  FROM lg GROUP BY 1),
        |al AS (SELECT g, CAST(0 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2,
        |  CAST(0 AS BIGINT) AS runs FROM med
        |  WHERE g NOT IN (SELECT g FROM ag)),
        |un AS (SELECT * FROM ag UNION ALL SELECT * FROM al),
        |zz AS (SELECT g, n1, n2, runs, n1 + n2 AS m,
        |  runs * (n1 + n2) - 2 * n1 * n2 - (n1 + n2) AS a,
        |  2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS vnum,
        |  (n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS vden FROM un)
        |SELECT g AS event_type, n1, n2, runs,
        |  CASE WHEN m > 0 AND vnum > 0 THEN
        |    round(CAST(a AS DOUBLE) / CAST(m AS DOUBLE) /
        |      sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE)), 6)
        |  END AS z
        |FROM zz ORDER BY 1""".stripMargin,

    // same daily series; per-group doubled midranks, prefix U_t,
    // earliest-day argmax, exact-integer tail exponent
    "q_pettitt" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |cells AS (SELECT g, xs, CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY 1, 2),
        |ranked AS (SELECT g, xs,
        |  2 * (sum(c) OVER (PARTITION BY g ORDER BY xs
        |    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS mr2
        |  FROM cells),
        |uu AS (SELECT dl.g, dl.d,
        |  sum(r.mr2) OVER (PARTITION BY dl.g ORDER BY dl.d
        |    ROWS UNBOUNDED PRECEDING) -
        |  (row_number() OVER (PARTITION BY dl.g ORDER BY dl.d)) *
        |  (count(*) OVER (PARTITION BY dl.g) + 1) AS u,
        |  row_number() OVER (PARTITION BY dl.g ORDER BY dl.d) AS t,
        |  count(*) OVER (PARTITION BY dl.g) AS n
        |  FROM daily dl JOIN ranked r ON dl.g = r.g AND dl.xs = r.xs),
        |best AS (SELECT g, n, abs(u) AS a, d,
        |  row_number() OVER (PARTITION BY g ORDER BY abs(u) DESC, d ASC)
        |    AS rk
        |  FROM uu WHERE t < n)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(a AS BIGINT) AS k_abs, d AS at_day,
        |  CAST((6 * a::HUGEINT * a * 1000000) //
        |    (n::HUGEINT * n * n + n::HUGEINT * n) AS BIGINT) AS x_micros,
        |  CAST((6 * a::HUGEINT * a * 1000000) //
        |    (n::HUGEINT * n * n + n::HUGEINT * n) >= 3688880
        |    AS BOOLEAN) AS sig_95
        |FROM best WHERE rk = 1 ORDER BY 1""".stripMargin,

    // same daily series split by month; per-season S/Var summed
    "q_seasonal_mk" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(month(ts) AS BIGINT) AS q,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2, 3),
        |sv AS (SELECT a.g, a.q, CAST(sum(sign(b.xs - a.xs)) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.q = b.q
        |    AND a.d < b.d GROUP BY 1, 2),
        |nv AS (SELECT g, q, CAST(count(*) AS BIGINT) AS n,
        |  count(*)::HUGEINT * (count(*) - 1) * (2 * count(*) + 5) AS nn
        |  FROM daily GROUP BY 1, 2),
        |ties AS (SELECT g, q,
        |  COALESCE(sum(t::HUGEINT * (t - 1) * (2 * t + 5)), 0) AS tt
        |  FROM (SELECT g, q, xs, count(*) AS t FROM daily GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |per AS (SELECT nv.g, nv.q, nv.n,
        |  COALESCE(sv.s, 0) AS s, CAST(nn - tt AS BIGINT) AS var18
        |  FROM nv JOIN ties ON nv.g = ties.g AND nv.q = ties.q
        |  LEFT JOIN sv ON nv.g = sv.g AND nv.q = sv.q),
        |ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_seasons,
        |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
        |  CAST(sum(var18) AS BIGINT) AS var18 FROM per GROUP BY 1)
        |SELECT g AS event_type, n_seasons, n, s, var18,
        |  CASE WHEN var18 > 0 THEN
        |    CAST(floor(sign(s) * greatest(abs(s) - 1, 0) * 1000000.0 /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT)
        |  END AS z_micros
        |FROM ag ORDER BY 1""".stripMargin,

    // same daily series, exact S / tie-corrected 18·Var, micro-floored z
    "q_mann_kendall" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |sv AS (SELECT a.g, CAST(sum(sign(b.xs - a.xs)) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d GROUP BY 1),
        |nv AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |  count(*)::HUGEINT * (count(*) - 1) * (2 * count(*) + 5) AS nn
        |  FROM daily GROUP BY 1),
        |ties AS (SELECT g,
        |  COALESCE(sum(t::HUGEINT * (t - 1) * (2 * t + 5)), 0) AS tt
        |  FROM (SELECT g, xs, count(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT nv.g AS event_type, nv.n AS n, sv.s AS s,
        |  CAST(nn - tt AS BIGINT) AS var18,
        |  CASE WHEN nn - tt > 0 THEN CAST(floor(
        |    sign(sv.s) * greatest(abs(sv.s) - 1, 0) * 1000000.0 /
        |      sqrt(CAST(nn - tt AS DOUBLE) / 18.0)) AS BIGINT)
        |  END AS z_micros
        |FROM nv JOIN ties ON nv.g = ties.g JOIN sv ON nv.g = sv.g
        |ORDER BY 1""".stripMargin,

    // same doubled Walsh averages + grouped CDF median
    "q_hodges" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT a.g, CAST(a.xs + b.xs AS BIGINT) AS v
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.d <= b.d),
        |counts AS (SELECT g, v, count(*) AS c FROM w GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1)
        |SELECT cdf.g AS event_type, nn.n AS n_pairs,
        |  CAST(min(v) AS BIGINT) AS hl_x2
        |FROM cdf JOIN nn ON cdf.g = nn.g
        |WHERE cum >= ceil(0.5 * nn.n)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // minimax form: fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k);
    // floor is monotone, so max-min over ppm-floored interval means
    // equals the ppm floor of the PAV block means bit-for-bit
    "q_isotonic" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |idx AS (SELECT g, d, y,
        |  row_number() OVER (PARTITION BY g ORDER BY d) AS i,
        |  sum(y) OVER (PARTITION BY g ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS s
        |  FROM daily),
        |m AS (SELECT a.g, a.i AS j, b.i AS k,
        |  (b.s - a.s + a.y) * 1000000 // (b.i - a.i + 1) AS mm
        |  FROM idx a JOIN idx b ON a.g = b.g AND a.i <= b.i),
        |inn AS (SELECT m.g, m.j, c.i AS i, min(m.mm) AS mn
        |  FROM m JOIN idx c ON m.g = c.g AND m.j <= c.i AND c.i <= m.k
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT g, i, max(mn) AS fitted_ppm FROM inn GROUP BY 1, 2)
        |SELECT idx.g AS event_type, idx.d AS day, idx.y AS cnt,
        |  CAST(1 AS BIGINT) AS n, CAST(fitted_ppm AS BIGINT) AS fitted_ppm
        |FROM idx JOIN fit ON idx.g = fit.g AND idx.i = fit.i""".stripMargin,

    // same ppm slopes; two stacked per-partition CDF medians
    "q_siegel" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |sl AS (SELECT a.g, a.d AS d1,
        |  CAST((b.xs - a.xs) * 1000000 // (b.d - a.d) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.d <> b.d),
        |c1 AS (SELECT g, d1, s, count(*) AS c FROM sl GROUP BY 1, 2, 3),
        |cdf1 AS (SELECT g, d1, s,
        |  sum(c) OVER (PARTITION BY g, d1 ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g, d1) AS n FROM c1),
        |med1 AS (SELECT g, d1, min(s) AS m FROM cdf1
        |  WHERE cum >= ceil(0.5 * n) GROUP BY 1, 2),
        |c2 AS (SELECT g, m, count(*) AS c FROM med1 GROUP BY 1, 2),
        |cdf2 AS (SELECT g, m,
        |  sum(c) OVER (PARTITION BY g ORDER BY m
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY g) AS n FROM c2)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(min(m) AS BIGINT) AS slope_ppm
        |FROM cdf2 WHERE cum >= ceil(0.5 * n)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q_theilsen" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xs
        |  FROM events GROUP BY 1, 2),
        |sl AS (SELECT a.g,
        |  CAST((b.xs - a.xs) * 1000000 // (b.d - a.d) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d),
        |counts AS (SELECT g, s, count(*) AS c FROM sl GROUP BY 1, 2),
        |cdf AS (SELECT g, s, c, sum(c) OVER (PARTITION BY g ORDER BY s
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1)
        |SELECT cdf.g AS event_type, nn.n AS n_pairs,
        |  CAST(min(s) AS BIGINT) AS slope_ppm
        |FROM cdf JOIN nn ON cdf.g = nn.g
        |WHERE cum >= ceil(0.5 * nn.n)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // same min-count vocab cut + membership join
    "q_oov" ->
      s"""WITH toks AS (SELECT doc_id AS id, unnest($W) AS w FROM documents),
         |vocab AS (SELECT w FROM toks GROUP BY w HAVING count(*) >= 5)
         |SELECT id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS oov_ppm
         |FROM toks LEFT JOIN vocab ON toks.w = vocab.w GROUP BY 1""".stripMargin,

    // same md5-window boundary rule over every position
    "q_cdc_chunks" ->
      """WITH b AS (SELECT doc_id AS id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(generate_series(8, length(text)),
        |    p -> ('0x' || substr(md5(substr(text, p - 7, 8)), 1, 8))::UBIGINT
        |      % 64 = 0)) AS BIGINT) AS n_boundaries
        |  FROM documents WHERE length(text) >= 8)
        |SELECT id, n_chars, n_boundaries, n_boundaries + 1 AS n_chunks,
        |  n_chars // (n_boundaries + 1) AS avg_chunk_len
        |FROM b""".stripMargin,

    // same freq-DESC CDF + ceil(p*N) vocab thresholds
    "q_coverage" ->
      s"""WITH counts AS (SELECT word, count(*) AS c FROM (
         |  SELECT unnest($W) AS word FROM documents) GROUP BY 1),
         |cdf AS (SELECT c,
         |  sum(c) OVER (ORDER BY c DESC, word ROWS UNBOUNDED PRECEDING) AS cum,
         |  row_number() OVER (ORDER BY c DESC, word) AS rank FROM counts),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
         |q AS (SELECT CAST(0.5 AS DOUBLE) AS p UNION ALL
         |      SELECT CAST(0.9 AS DOUBLE) UNION ALL
         |      SELECT CAST(0.99 AS DOUBLE))
         |SELECT p, CAST(min(rank) AS BIGINT) AS vocab_size,
         |  CAST(min(cum) AS BIGINT) AS tokens_covered, nn.n AS n_tokens
         |FROM cdf CROSS JOIN nn CROSS JOIN q
         |WHERE cum >= ceil(p * nn.n)
         |GROUP BY 1, 4""".stripMargin,

    // same exact 1-df chi-square ppm + fences
    "q_srm" ->
      """WITH arms AS (SELECT user_id % 2 AS arm FROM events),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM arms)
        |SELECT n_a, n_b,
        |  (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) AS chi2_ppm,
        |  (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) > 3841459
        |    AS srm_95,
        |  (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) > 6634897
        |    AS srm_99
        |FROM m""".stripMargin,

    // same distinct-membership self-join per consecutive period
    "q_churn" ->
      """WITH act AS (SELECT DISTINCT user_id AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 30 AS p
        |  FROM events),
        |nxt AS (SELECT k, p - 1 AS p, 1 AS r FROM act),
        |m AS (SELECT max(p) AS maxp FROM act),
        |j AS (SELECT act.p, count(*) AS n_active,
        |  CAST(sum(CASE WHEN nxt.r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_retained
        |  FROM act LEFT JOIN nxt ON act.k = nxt.k AND act.p = nxt.p
        |  GROUP BY 1)
        |SELECT p AS period, n_active, n_retained,
        |  n_active - n_retained AS n_churned,
        |  n_retained * 1000000 // n_active AS retention_ppm
        |FROM j CROSS JOIN m WHERE p < maxp""".stripMargin,

    // same boundary rule -> chunk slices -> md5 multiset summary
    "q_chunk_dedup" ->
      """WITH b AS (SELECT doc_id AS id, text,
        |  list_concat(list_concat([CAST(0 AS BIGINT)],
        |    list_filter(generate_series(8, length(text)),
        |      p -> ('0x' || substr(md5(substr(text, p - 7, 8)), 1, 8))::UBIGINT
        |        % 64 = 0)),
        |    [CAST(length(text) AS BIGINT)]) AS bounds
        |  FROM documents WHERE length(text) >= 8),
        |ch AS (SELECT id, md5(substr(text, CAST(bounds[i] + 1 AS INTEGER),
        |    CAST(bounds[i + 1] - bounds[i] AS INTEGER))) AS h
        |  FROM b CROSS JOIN LATERAL (
        |    SELECT unnest(generate_series(1, len(bounds) - 1)) AS i) g),
        |per AS (SELECT h, count(*) AS n, count(DISTINCT id) AS nd
        |  FROM ch GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_chunks,
        |  count(*) AS n_distinct FROM per),
        |sh AS (SELECT count(*) AS n_shared_chunks FROM per WHERE nd >= 2),
        |dw AS (SELECT count(DISTINCT id) AS docs_with_shared FROM ch
        |  WHERE h IN (SELECT h FROM per WHERE nd >= 2))
        |SELECT n_chunks, n_distinct, n_shared_chunks, docs_with_shared
        |FROM tot CROSS JOIN sh CROSS JOIN dw""".stripMargin,

    // same two grouped exact medians (values, then deviations)
    "q_robust_scale" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |c1 AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |cdf1 AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c1),
        |n1 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c1 GROUP BY 1),
        |med AS (SELECT cdf1.g, n1.n, min(v) AS median FROM cdf1
        |  JOIN n1 ON cdf1.g = n1.g WHERE cum >= ceil(0.5 * n1.n)
        |  GROUP BY 1, 2),
        |dev AS (SELECT base.g, abs(v - median) AS d FROM base
        |  JOIN med ON base.g = med.g),
        |c2 AS (SELECT g, d, count(*) AS c FROM dev GROUP BY 1, 2),
        |cdf2 AS (SELECT g, d, c, sum(c) OVER (PARTITION BY g ORDER BY d
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c2),
        |n2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c2 GROUP BY 1),
        |mad AS (SELECT cdf2.g, min(d) AS mad FROM cdf2
        |  JOIN n2 ON cdf2.g = n2.g WHERE cum >= ceil(0.5 * n2.n) GROUP BY 1)
        |SELECT med.g AS l_returnflag, med.n, med.median, mad.mad
        |FROM med JOIN mad ON med.g = mad.g""".stripMargin,

    // same per-conversion touch counts + floor-credit accounting
    "q_attr_linear" ->
      """WITH conv AS (SELECT user_id AS k, epoch_us(ts::TIMESTAMP) AS ct,
        |  event_id AS cid FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS k, epoch_us(ts::TIMESTAMP) AS tt
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT cid,
        |  CASE WHEN tt IS NOT NULL AND tt <= ct
        |    AND ct - tt <= 604800000000 THEN 1 ELSE 0 END AS hit
        |  FROM conv LEFT JOIN touch ON conv.k = touch.k),
        |pc AS (SELECT cid, CAST(sum(hit) AS BIGINT) AS kt FROM j GROUP BY 1)
        |SELECT count(*) AS n_conversions,
        |  CAST(sum(CASE WHEN kt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
        |  CAST(sum(kt) AS BIGINT) AS n_credited_touches,
        |  CAST(sum(CASE WHEN kt > 0 THEN (1000000 // kt) * kt ELSE 0 END)
        |    AS BIGINT) AS credit_ppm_total,
        |  CAST(sum(CASE WHEN kt > 0 THEN 1000000 - (1000000 // kt) * kt
        |    ELSE 0 END) AS BIGINT) AS remainder_ppm_total
        |FROM pc""".stripMargin,

    // same grouped p05/p95 fences + clamped exact mean
    // same cell-frame interval-overlap arithmetic, descending CDF
    "q_lift" ->
      """WITH base AS (SELECT
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS r
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT v, count(*) AS c, sum(r) AS p FROM base GROUP BY 1),
        |cdf AS (SELECT v, c, p, sum(c) OVER (ORDER BY v DESC) AS cum FROM cells),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS tp
        |  FROM cells),
        |b AS (SELECT g.d AS bucket, n, tp, (g.d - 1) * n // 10 AS lo,
        |  g.d * n // 10 AS hi FROM generate_series(1, 10) AS g(d), tot),
        |sl AS (SELECT bucket, n, tp, c, p,
        |  greatest(0, least(cum, hi) - greatest(cum - c, lo)) AS o
        |  FROM cdf, b),
        |agg AS (SELECT bucket, max(n) AS n, max(tp) AS tp, sum(o) AS n_rows,
        |  sum(p * o * 1000000 // c) AS resp_ppm FROM sl WHERE o > 0 GROUP BY 1),
        |cum2 AS (SELECT a.bucket, max(a.n) AS n, max(a.tp) AS tp,
        |  max(a.n_rows) AS n_rows, max(a.resp_ppm) AS resp_ppm,
        |  sum(b2.n_rows) AS cn, sum(b2.resp_ppm) AS cr
        |  FROM agg a JOIN agg b2 ON b2.bucket <= a.bucket GROUP BY 1)
        |SELECT CAST(bucket AS INTEGER) AS bucket,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(resp_ppm AS BIGINT) AS resp_ppm,
        |  CAST(resp_ppm // n_rows AS BIGINT) AS rate_ppm,
        |  CAST((cr * n) // (cn * tp) AS BIGINT) AS cum_lift_ppm
        |FROM cum2 ORDER BY bucket""".stripMargin,

    // row_number replay of the tail deletion: ties share v, so the
    // rank-range sum is order-invariant; integer div matches `div`
    "q_trimmed_mean" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY g) AS n FROM base),
        |tt AS (SELECT g, v, rn, n, n * 50000 // 1000000 AS t FROM r)
        |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(n) - 2 * max(t) AS BIGINT) AS n_trimmed,
        |  CAST(sum(CASE WHEN rn > t AND rn <= n - t THEN v ELSE 0 END)
        |    // (max(n) - 2 * max(t)) AS BIGINT) AS trimmed_mean
        |FROM tt GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_winsor_group" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |c1 AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c1),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c1 GROUP BY 1),
        |lo AS (SELECT cdf.g, min(v) AS lo FROM cdf JOIN nn ON cdf.g = nn.g
        |  WHERE cum >= ceil(CAST(0.05 AS DOUBLE) * nn.n) GROUP BY 1),
        |hi AS (SELECT cdf.g, min(v) AS hi FROM cdf JOIN nn ON cdf.g = nn.g
        |  WHERE cum >= ceil(CAST(0.95 AS DOUBLE) * nn.n) GROUP BY 1)
        |SELECT base.g AS l_returnflag, count(*) AS n,
        |  any_value(lo.lo) AS lo, any_value(hi.hi) AS hi,
        |  CAST(sum(greatest(lo.lo, least(hi.hi, v))) // count(*) AS BIGINT)
        |    AS winsorized_mean
        |FROM base JOIN lo ON base.g = lo.g JOIN hi ON base.g = hi.g
        |GROUP BY 1""".stripMargin,

    // same class-size count-of-counts summary
    "q_kanon" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000
        |    // sum(n) AS BIGINT) AS at_risk_ppm
        |FROM cls""".stripMargin,

    // same grouped/global rank-ppm CDFs + smallest-qualifying lookup
    "q_qnorm" ->
      """WITH gc AS (SELECT source AS g, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |gn AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM gc GROUP BY 1),
        |gcdf AS (SELECT gc.g, v,
        |  CAST(sum(c) OVER (PARTITION BY gc.g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) * 1000000 // ng AS BIGINT) AS rank_ppm
        |  FROM gc JOIN gn ON gc.g = gn.g),
        |tc AS (SELECT n_chars AS gv, count(*) AS c FROM documents GROUP BY 1),
        |tn AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM tc),
        |tcdf AS (SELECT gv,
        |  CAST(sum(c) OVER (ORDER BY gv ROWS UNBOUNDED PRECEDING)
        |    * 1000000 // nt AS BIGINT) AS gppm
        |  FROM tc CROSS JOIN tn)
        |SELECT g AS source, v AS value, rank_ppm, min(gv) AS normalized
        |FROM gcdf JOIN tcdf ON gppm >= rank_ppm
        |GROUP BY 1, 2, 3""".stripMargin,

    // same exact-integer EMD over the completed class×domain grid
    "q_tcloseness" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment,
        |  (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000)
        |    // 200000 AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |cv AS (SELECT c_nationkey, c_mktsegment, v, count(*) AS p
        |  FROM base GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, c_mktsegment, CAST(sum(p) AS BIGINT) AS nc
        |  FROM cv GROUP BY 1, 2),
        |gv AS (SELECT v, count(*) AS q FROM base GROUP BY 1),
        |tot AS (SELECT CAST(sum(q) AS BIGINT) AS N, count(*) AS m FROM gv),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, gv.v, cls.nc,
        |  tot.N, tot.m,
        |  COALESCE(cv.p, 0)::HUGEINT * tot.N - gv.q::HUGEINT * cls.nc AS num
        |  FROM cls CROSS JOIN gv CROSS JOIN tot
        |  LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
        |    AND cv.c_mktsegment = cls.c_mktsegment AND cv.v = gv.v),
        |pc AS (SELECT c_nationkey, c_mktsegment, nc, m, N, sum(abs(cum)) AS sabs
        |  FROM (SELECT c_nationkey, c_mktsegment, nc, m, N,
        |    sum(num) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM grid) GROUP BY 1, 2, 3, 4, 5),
        |sc AS (SELECT nc, m, CASE WHEN m > 1 THEN (sabs * 1000000)
        |  // ((m - 1)::HUGEINT * nc * N) ELSE 0 END AS t_ppm FROM pc)
        |SELECT CAST(sum(nc) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |  CAST(max(m) AS BIGINT) AS m,
        |  CAST(sum(CASE WHEN t_ppm > 200000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_classes,
        |  CAST(sum(CASE WHEN t_ppm > 200000 THEN nc ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(max(t_ppm) AS BIGINT) AS max_t_ppm
        |FROM sc""".stripMargin,

    // same class frame + distinct-sensitive counts
    "q_ldiv" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(DISTINCT CAST(c_acctbal >= 0 AS INTEGER)) AS div
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN div < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_classes,
        |  CAST(sum(CASE WHEN div < 2 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  min(div) AS min_diversity
        |FROM cls""".stripMargin,

    // the q_dedup_cc component oracle folded to a size histogram
    "q_dup_sizes" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |edges AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
         |  len(list_intersect(da.sh, db.sh))::DOUBLE /
         |  len(list_distinct(list_concat(da.sh, db.sh))) AS j
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id) WHERE j >= 0.2),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS node FROM documents
         |  UNION
         |  SELECT r.src, CASE WHEN e.id_a = r.node THEN e.id_b ELSE e.id_a END
         |  FROM reach r JOIN edges e ON r.node = e.id_a OR r.node = e.id_b),
         |comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
         |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY 1""".stripMargin,

    // same in-order fold, cents-rounded norm, quarter-unit buckets
    "q_embed_norms" ->
      """SELECT CAST(round(sqrt(list_reduce(
        |    list_prepend(0.0::DOUBLE,
        |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
        |    (a, x) -> a + x)) * 100) AS BIGINT) // 25 AS bucket,
        |  count(*) AS n
        |FROM embeddings GROUP BY 1""".stripMargin,

    // same weight-proportional scatter, 2 unrolled iterations
    "q_pagerank_w" ->
      """WITH triple AS (SELECT DISTINCT 'c:' || o_custkey AS c,
        |  's:' || l_suppkey AS p, o_orderkey AS ok
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |pw AS (SELECT c, p, count(*) AS w FROM triple GROUP BY 1, 2),
        |edges AS (SELECT c AS src, p AS dst, w FROM pw
        |          UNION ALL SELECT p AS src, c AS dst, w FROM pw),
        |verts AS (SELECT DISTINCT src AS node FROM edges
        |          UNION SELECT DISTINCT dst AS node FROM edges),
        |ows AS (SELECT src, CAST(sum(w) AS BIGINT) AS ws
        |  FROM edges GROUP BY src),
        |it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score FROM verts),
        |inf1 AS (SELECT e.dst, CAST(SUM((sc.score * e.w) // od.ws) AS BIGINT) AS f
        |  FROM edges e JOIN it0 sc ON e.src = sc.node
        |  JOIN ows od ON e.src = od.src GROUP BY e.dst),
        |it1 AS (SELECT v.node,
        |  150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM verts v LEFT JOIN inf1 i ON v.node = i.dst),
        |inf2 AS (SELECT e.dst, CAST(SUM((sc.score * e.w) // od.ws) AS BIGINT) AS f
        |  FROM edges e JOIN it1 sc ON e.src = sc.node
        |  JOIN ows od ON e.src = od.src GROUP BY e.dst),
        |it2 AS (SELECT v.node,
        |  150000000 + (85 * COALESCE(i.f, 0)) // 100 AS score
        |  FROM verts v LEFT JOIN inf2 i ON v.node = i.dst)
        |SELECT node, CAST(score AS BIGINT) AS score FROM it2""".stripMargin,

    // same weighted 6dp cell terms over the bigram stream
    "q_bigram_entropy" ->
      s"""WITH sh AS (SELECT unnest(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS s
         |  FROM documents),
         |p AS (SELECT split_part(s, ' ', 1) AS x, split_part(s, ' ', 2) AS y
         |  FROM sh WHERE contains(s, ' ')),
         |cells AS (SELECT x, y, count(*) AS nxy FROM p GROUP BY 1, 2),
         |marg AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
         |  FROM cells GROUP BY 1),
         |terms AS (SELECT nxy,
         |  CAST(round(ln(CAST(nx AS DOUBLE) / CAST(nxy AS DOUBLE)), 6)
         |    AS DECIMAL(18,6)) * nxy AS t
         |  FROM cells JOIN marg USING (x)),
         |m AS (SELECT CAST(sum(nxy) AS BIGINT) AS n_pairs, sum(t) AS ts
         |  FROM terms)
         |SELECT n_pairs,
         |  round(CAST(ts AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS h_cond,
         |  round(exp(CAST(ts AS DOUBLE) / CAST(n_pairs AS DOUBLE)), 4)
         |    AS perplexity
         |FROM m""".stripMargin,

    // same exact-moment sigma + literal z-sum MDE shape
    "q_mde" ->
      """WITH m AS (SELECT event_type AS g, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |  sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |    * CAST(round(value * 100) AS BIGINT)) AS q
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT g AS "group", n,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  round(sqrt((CAST(q AS DOUBLE) -
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) - 1.0)), 6) AS sigma,
        |  round(2.801585 *
        |    sqrt((CAST(q AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) - 1.0)) *
        |    sqrt(2.0 / (CAST(n AS DOUBLE) / 2.0)), 6) AS mde
        |FROM m WHERE n >= 4""".stripMargin,

    // same all-integer Simpson rational, truncating division
    "q_simpson" ->
      s"""WITH w AS (SELECT source AS g, unnest($W) AS word FROM documents),
         |c AS (SELECT g, word, count(*) AS n FROM w GROUP BY 1, 2),
         |m AS (SELECT g, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  sum(CAST(n AS HUGEINT) * (n - 1)) AS num FROM c GROUP BY 1)
         |SELECT g AS "group", n_tokens,
         |  CAST(num * 1000000 // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
         |    AS BIGINT) AS simpson_ppm
         |FROM m WHERE n_tokens >= 2""".stripMargin,

    // same two distinct-pair aggregates + integer ppm ratio
    "q_stickiness" ->
      """WITH act AS (SELECT DISTINCT user_id AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
        |  FROM events),
        |a2 AS (SELECT k, t, t // 30 AS p FROM act),
        |pt AS (SELECT p, count(*) AS n_ticks,
        |  CAST(sum(dau) AS BIGINT) AS sum_tick_actives FROM (
        |    SELECT p, t, count(*) AS dau FROM a2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |pp AS (SELECT p, count(*) AS period_actives FROM (
        |    SELECT DISTINCT p, k FROM a2) GROUP BY 1)
        |SELECT pt.p AS period, n_ticks, sum_tick_actives, period_actives,
        |  sum_tick_actives * 1000000 // (n_ticks * period_actives)
        |    AS stickiness_ppm
        |FROM pt JOIN pp ON pt.p = pp.p""".stripMargin,

    // same per-lag moment blocks over the daily series, unioned
    "q_acf" ->
      """WITH daily AS (SELECT event_type AS g,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT g, day, cents AS x FROM daily),
        |lagged AS (
        |  SELECT 1 AS lag, g, x,
        |    lag(x, 1) OVER (PARTITION BY g ORDER BY day) AS y FROM base
        |  UNION ALL
        |  SELECT 2, g, x, lag(x, 2) OVER (PARTITION BY g ORDER BY day) FROM base
        |  UNION ALL
        |  SELECT 3, g, x, lag(x, 3) OVER (PARTITION BY g ORDER BY day) FROM base
        |  UNION ALL
        |  SELECT 7, g, x, lag(x, 7) OVER (PARTITION BY g ORDER BY day) FROM base),
        |a AS (SELECT lag, g, count(*) AS n_pairs,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM lagged WHERE y IS NOT NULL GROUP BY 1, 2)
        |SELECT lag, g AS event_type, n_pairs,
        |  CASE WHEN n_pairs < 3
        |    OR CAST(n_pairs * sxx - sx * sx AS DOUBLE) <= 0
        |    OR CAST(n_pairs * syy - sy * sy AS DOUBLE) <= 0
        |  THEN NULL ELSE
        |    round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        |  END AS r
        |FROM a""".stripMargin,

    // same daily frame; weekly maxima, HUGEINT moments, the SAME
    // embedded JVM constants (√6/π, γ, double-log return factor)
    "q_gumbel" ->
      s"""WITH daily AS (SELECT event_type AS k,
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS x
         |  FROM events GROUP BY 1, 2),
         |mx AS (SELECT k, day // 7 AS blk, CAST(max(x) AS BIGINT) AS mx
         |  FROM daily GROUP BY 1, 2),
         |m AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
         |  sum(CAST(mx AS HUGEINT)) AS s,
         |  sum(CAST(mx AS HUGEINT) * mx) AS q FROM mx GROUP BY 1),
         |f AS (SELECT k, n, n * q - s * s AS vn,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |  sqrt(CAST(n * q - s * s AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) *
         |    ${Analytics.GumbelC1} AS beta
         |  FROM m)
         |SELECT k AS event_type, n AS n_blocks, round(mean, 6) AS mean_max,
         |  CASE WHEN n >= 2 AND vn > 0 THEN round(beta, 6) END AS beta,
         |  CASE WHEN n >= 2 AND vn > 0 THEN
         |    round(mean - ${Analytics.GumbelGamma} * beta, 6) END AS mu,
         |  CASE WHEN n >= 2 AND vn > 0 THEN
         |    round(mean - ${Analytics.GumbelGamma} * beta -
         |      beta * ${math.log(-math.log(1.0 - 1.0 / 52.0))}, 6) END AS rl
         |FROM f""".stripMargin,

    // same daily frame; full-block integer sums, lagged deltas in
    // HUGEINT, one identical IEEE division per (key, m)
    "q_allan" ->
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT k, x, CAST(row_number() OVER
        |  (PARTITION BY k ORDER BY day) AS BIGINT) - 1 AS i FROM daily),
        |ex AS (SELECT k, i, x, CAST(m AS BIGINT) AS m
        |  FROM idx, (SELECT unnest([1, 4, 16, 64]) AS m)),
        |b AS (SELECT k, m, i // m AS blk, CAST(sum(x) AS BIGINT) AS s,
        |  count(*) AS cnt FROM ex GROUP BY 1, 2, 3),
        |fb AS (SELECT k, m, blk, s FROM b WHERE cnt = m),
        |lg AS (SELECT k, m,
        |  s - lag(s) OVER (PARTITION BY k, m ORDER BY blk) AS ds FROM fb),
        |ag AS (SELECT k, m, CAST(count(*) AS BIGINT) AS n_blocks,
        |  sum(CAST(ds AS HUGEINT) * ds) AS num,
        |  CAST(count(ds) AS BIGINT) AS pairs FROM lg GROUP BY 1, 2)
        |SELECT k AS event_type, m, n_blocks,
        |  CAST(CASE WHEN pairs >= 1 THEN
        |    (num * 1000000) // (2 * pairs::HUGEINT * m * m)
        |  END AS BIGINT) AS avar_micros
        |FROM ag""".stripMargin,

    // same daily frame; block windows mirror the m-cleared integer W,
    // the slope constants are the SAME JVM doubles embedded literally
    "q_hurst" ->
      s"""WITH daily AS (SELECT event_type AS k,
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS x
         |  FROM events GROUP BY 1, 2),
         |idx AS (SELECT k, x, CAST(row_number() OVER
         |  (PARTITION BY k ORDER BY day) AS BIGINT) - 1 AS i FROM daily),
         |nn AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM idx GROUP BY 1),
         |ex AS (SELECT k, i, x, CAST(m AS BIGINT) AS m,
         |  i // CAST(m AS BIGINT) AS blk, i % CAST(m AS BIGINT) AS p
         |  FROM idx, (SELECT unnest([8, 16, 32, 64]) AS m)),
         |ww AS (SELECT k, m, blk, p,
         |  sum(x) OVER (PARTITION BY k, m, blk ORDER BY p
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(x) OVER (PARTITION BY k, m, blk) AS s,
         |  sum(CAST(x AS HUGEINT) * x) OVER (PARTITION BY k, m, blk) AS q,
         |  count(*) OVER (PARTITION BY k, m, blk) AS cnt
         |  FROM ex),
         |wf AS (SELECT k, m, blk,
         |  CAST(m AS HUGEINT) * cum - CAST(p + 1 AS HUGEINT) * s AS w, s, q
         |  FROM ww WHERE cnt = m),
         |pb AS (SELECT k, m, blk, max(w) AS maxw, min(w) AS minw,
         |  any_value(s) AS s, any_value(q) AS q FROM wf GROUP BY 1, 2, 3),
         |rs AS (SELECT k, m,
         |  CAST(round(CAST(maxw - minw AS DOUBLE) /
         |    sqrt(CAST(CAST(m AS HUGEINT) * q - s * s AS DOUBLE)), 6)
         |    AS DECIMAL(28,6)) AS rs
         |  FROM pb WHERE CAST(CAST(m AS HUGEINT) * q - s * s AS DOUBLE) > 0),
         |ps AS (SELECT k, m,
         |  CAST(sum(rs) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg
         |  FROM rs GROUP BY 1, 2),
         |pv AS (SELECT k, CAST(count(*) AS BIGINT) AS have,
         |  max(CASE WHEN m = 8 THEN ln(avg) END) AS v0,
         |  max(CASE WHEN m = 16 THEN ln(avg) END) AS v1,
         |  max(CASE WHEN m = 32 THEN ln(avg) END) AS v2,
         |  max(CASE WHEN m = 64 THEN ln(avg) END) AS v3
         |  FROM ps WHERE avg > 0 GROUP BY 1)
         |SELECT pv.k AS event_type, nn.n,
         |  CASE WHEN have = 4 THEN
         |    round((4.0 * (${hurstUs(0)} * v0 + ${hurstUs(1)} * v1 +
         |      ${hurstUs(2)} * v2 + ${hurstUs(3)} * v3) -
         |      $huSum * (v0 + v1 + v2 + v3)) / $huDen, 6)
         |  END AS hurst
         |FROM pv JOIN nn ON pv.k = nn.k""".stripMargin,

    // same demeaned frame and lag window; the Durbin-Levinson chain
    // as the operation-for-operation identical double shape
    "q_pacf" ->
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s FROM daily GROUP BY 1),
        |y AS (SELECT daily.k AS k, n, day, CAST(n AS HUGEINT) * x - s AS y
        |  FROM daily JOIN st USING (k)),
        |l AS (SELECT k, n, y,
        |  lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
        |  lag(y, 3) OVER w AS y3
        |  FROM y WINDOW w AS (PARTITION BY k ORDER BY day)),
        |a AS (SELECT k, any_value(n) AS n, sum(y * y) AS den,
        |  sum(y * y1) AS n1, sum(y * y2) AS n2, sum(y * y3) AS n3
        |  FROM l GROUP BY k),
        |r AS (SELECT k, n,
        |  CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
        |  CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
        |  CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
        |  (n <= 3 OR CAST(den AS DOUBLE) <= 0) AS bad FROM a),
        |s2 AS (SELECT k, n, r1, r2, r3, bad,
        |  1.0 - r1 * r1 AS d2,
        |  (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM r),
        |s3 AS (SELECT k, n, r1, r2, r3, bad, d2, p22,
        |  r1 - p22 * r1 AS p21 FROM s2),
        |s4 AS (SELECT k, n, r1, r2, r3, bad, d2, p22, p21,
        |  1.0 - p21 * r1 - p22 * r2 AS d3 FROM s3)
        |SELECT k AS event_type, n,
        |  CASE WHEN bad THEN NULL ELSE
        |    CAST(round(r1 * 1000000) AS BIGINT) END AS pacf1_ppm,
        |  CASE WHEN bad OR d2 = 0 THEN NULL ELSE
        |    CAST(round(p22 * 1000000) AS BIGINT) END AS pacf2_ppm,
        |  CASE WHEN bad OR d2 = 0 OR d3 = 0 THEN NULL ELSE
        |    CAST(round((r3 - p21 * r2 - p22 * r1) / d3 * 1000000)
        |      AS BIGINT) END AS pacf3_ppm
        |FROM s4""".stripMargin,

    // same demeaned frame, all four lags in one window pass, Q in
    // the same fixed (t1+t2+t3+t7)*n*(n+2) shape
    "q_ljung_box" ->
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s FROM daily GROUP BY 1),
        |y AS (SELECT daily.k AS k, n, day, CAST(n AS HUGEINT) * x - s AS y
        |  FROM daily JOIN st USING (k)),
        |l AS (SELECT k, n, y,
        |  lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
        |  lag(y, 3) OVER w AS y3, lag(y, 7) OVER w AS y7
        |  FROM y WINDOW w AS (PARTITION BY k ORDER BY day)),
        |a AS (SELECT k, any_value(n) AS n, sum(y * y) AS den,
        |  sum(y * y1) AS n1, sum(y * y2) AS n2,
        |  sum(y * y3) AS n3, sum(y * y7) AS n7
        |  FROM l GROUP BY k),
        |r AS (SELECT k, n,
        |  CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
        |  CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
        |  CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
        |  CAST(n7 AS DOUBLE) / CAST(den AS DOUBLE) AS r7,
        |  (n <= 7 OR CAST(den AS DOUBLE) <= 0) AS bad FROM a)
        |SELECT k AS event_type, n,
        |  CASE WHEN bad THEN NULL ELSE
        |    CAST(round(r1 * 1000000) AS BIGINT) END AS rho1_ppm,
        |  CASE WHEN bad THEN NULL ELSE
        |    CAST(round(r2 * 1000000) AS BIGINT) END AS rho2_ppm,
        |  CASE WHEN bad THEN NULL ELSE
        |    CAST(round(r3 * 1000000) AS BIGINT) END AS rho3_ppm,
        |  CASE WHEN bad THEN NULL ELSE
        |    CAST(round(r7 * 1000000) AS BIGINT) END AS rho7_ppm,
        |  CASE WHEN bad THEN NULL ELSE CAST(round(
        |    (((r1 * r1 / (CAST(n AS DOUBLE) - 1.0)
        |       + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
        |       + r3 * r3 / (CAST(n AS DOUBLE) - 3.0)
        |       + r7 * r7 / (CAST(n AS DOUBLE) - 7.0))
        |      * CAST(n AS DOUBLE)) * (CAST(n AS DOUBLE) + 2.0))
        |    * 1000000) AS BIGINT) END AS q_ppm
        |FROM r""".stripMargin,

    // tick-arithmetic lag join, six HUGEINT moments per lag, one IEEE r
    "q_ccf" ->
      """WITH daily AS (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |  sum(CASE WHEN event_type = 'click'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS x,
        |  sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS y
        |  FROM events GROUP BY 1),
        |a AS (SELECT t AS ta, CAST(x AS BIGINT) AS x FROM daily
        |  WHERE x IS NOT NULL),
        |b AS (SELECT l.k AS lag, t + l.k AS tb, CAST(y AS BIGINT) AS y
        |  FROM daily, (SELECT unnest([-7, -1, 0, 1, 7]) AS k) l
        |  WHERE y IS NOT NULL),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM a JOIN b ON ta = tb GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN n_pairs >= 3
        |      AND CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
        |      AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0 THEN
        |    round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        |  END AS r
        |FROM m""".stripMargin,

    // same frame, lag-1 squared-difference ratio with the matching
    // n-scale on both legs
    "q_durbin_watson" ->
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s FROM daily GROUP BY 1),
        |l AS (SELECT daily.k AS k, n,
        |  CAST(n AS HUGEINT) * x - s AS y,
        |  CAST(n AS HUGEINT) *
        |    (x - lag(x) OVER (PARTITION BY daily.k ORDER BY day)) AS dx
        |  FROM daily JOIN st USING (k)),
        |a AS (SELECT k, any_value(n) AS n, sum(y * y) AS den,
        |  sum(dx * dx) AS num FROM l GROUP BY k)
        |SELECT k AS event_type, n,
        |  CASE WHEN n < 2 OR CAST(den AS DOUBLE) <= 0 THEN NULL
        |  ELSE CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |    * 1000000) AS BIGINT) END AS dw_ppm
        |FROM a""".stripMargin,

    // observed-cells-only G: zero cells contribute 0, margins joined
    // back, per-cell bigint ppm terms summed
    "q_gtest" ->
      """WITH cells AS (SELECT o_orderstatus AS x, o_orderpriority AS y,
        |  CAST(count(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(o) AS BIGINT) AS rx FROM cells GROUP BY 1),
        |my AS (SELECT y, CAST(sum(o) AS BIGINT) AS cy FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT x) AS BIGINT) AS r,
        |  CAST(count(DISTINCT y) AS BIGINT) AS c FROM cells)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  CAST(sum(CAST(round(2.0 * o *
        |    ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
        |       (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)))
        |    * 1000000) AS BIGINT)) AS BIGINT) AS g_ppm
        |FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        |GROUP BY n, r, c""".stripMargin,

    // same df-capped candidates, ppm jaccard, threshold cross join
    "q_jaccard_sweep" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, list_distinct(CASE WHEN len($W) < 2
         |    THEN [array_to_string($W, ' ')]
         |    ELSE list_transform(generate_series(1, len($W) - 1),
         |      i -> array_to_string(($W)[i:i+1], ' ')) END) AS sh
         |  FROM documents),
         |postings AS (SELECT id, unnest(sh) AS g FROM docs),
         |rare AS (SELECT g FROM postings GROUP BY g
         |  HAVING count(*) <= 100 AND count(*) >= 2),
         |filtered AS (SELECT p.id, p.g FROM postings p JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM filtered a JOIN filtered b ON a.g = b.g AND a.id < b.id),
         |jac AS (SELECT
         |  CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) * 1000000
         |    // len(list_distinct(list_concat(da.sh, db.sh))) AS jppm
         |  FROM cand JOIN docs da ON cand.id_a = da.id
         |  JOIN docs db ON cand.id_b = db.id),
         |th AS (SELECT unnest([200000, 400000, 600000, 800000]) AS t)
         |SELECT CAST(t AS BIGINT) AS threshold_ppm,
         |  CAST(sum(CASE WHEN jppm >= t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pairs
         |FROM th CROSS JOIN jac GROUP BY 1""".stripMargin,

    // same midrank CDF; doubled-U integer and 2*AUC - 1 effect size
    "q_mannwhitney" ->
      """WITH c AS (SELECT l_extendedprice AS s, count(*) AS c,
        |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT s, c, p, sum(c) OVER (ORDER BY s) AS cu FROM c)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(c - p) AS BIGINT) AS n_neg,
        |  CAST(sum(p * (2 * (cu - c) + c + 1)) - sum(p) * (sum(p) + 1)
        |    AS BIGINT) AS u_x2,
        |  round((sum(p * (2 * (cu - c) + c + 1)) - sum(p) * (sum(p) + 1))::DOUBLE /
        |    (sum(p)::DOUBLE * sum(c - p)::DOUBLE) - 1.0, 6) AS rank_biserial
        |FROM cum""".stripMargin,

    // same per-unit max pair + discordant-cell ppm integers
    "q_mcnemar" ->
      """WITH per AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'click'
        |    AND ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS a,
        |  max(CASE WHEN event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10
        |  FROM per)
        |SELECT n_pairs, n01, n10,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    CAST((n01 - n10) * (n01 - n10) * 1000000 // (n01 + n10) AS BIGINT)
        |  END AS chi2_ppm,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    CAST(greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
        |      * 1000000 // (n01 + n10) AS BIGINT)
        |  END AS chi2_cc_ppm
        |FROM c""".stripMargin,

    // same Dirichlet-shrunk per-term log-odds, identical IEEE shape
    "q_logodds" ->
      s"""WITH ta AS (SELECT unnest($W) AS term FROM documents WHERE lang = 'en'),
         |tb AS (SELECT unnest($W) AS term FROM documents WHERE lang = 'es'),
         |ca AS (SELECT term, count(*) AS ya FROM ta GROUP BY 1),
         |cb AS (SELECT term, count(*) AS yb FROM tb GROUP BY 1),
         |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
         |  CAST(COALESCE(ya, 0) AS BIGINT) AS n_a,
         |  CAST(COALESCE(yb, 0) AS BIGINT) AS n_b
         |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS t1,
         |  CAST(sum(n_b) AS BIGINT) AS t2 FROM j),
         |j2 AS (SELECT term, n_a, n_b,
         |  n_a::DOUBLE + (100.0 * (n_a + n_b)::DOUBLE) /
         |    (t1::DOUBLE + t2::DOUBLE) AS y1,
         |  n_b::DOUBLE + (100.0 * (n_a + n_b)::DOUBLE) /
         |    (t1::DOUBLE + t2::DOUBLE) AS y2,
         |  t1::DOUBLE AS d1, t2::DOUBLE AS d2 FROM j, tot),
         |s2 AS (SELECT term, n_a, n_b,
         |  ln(y1 / (d1 + 100.0 - y1)) - ln(y2 / (d2 + 100.0 - y2)) AS dr,
         |  (ln(y1 / (d1 + 100.0 - y1)) - ln(y2 / (d2 + 100.0 - y2))) /
         |    sqrt(1.0 / y1 + 1.0 / y2) AS zr
         |  FROM j2)
         |SELECT term, n_a, n_b, round(dr, 6) AS delta, round(zr, 6) AS z
         |FROM s2 ORDER BY abs(round(zr, 6)) DESC, term LIMIT 100""".stripMargin,

    // same 4-cell exact sums; means and DID one fixed double shape
    "q_did" ->
      """WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
        |  CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS p,
        |  CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT t, p, count(*) AS n, CAST(sum(v) AS BIGINT) AS s
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT
        |  CAST(COALESCE(sum(CASE WHEN t = 0 AND p = 0 THEN n END), 0) AS BIGINT) AS n00,
        |  CAST(COALESCE(sum(CASE WHEN t = 0 AND p = 1 THEN n END), 0) AS BIGINT) AS n01,
        |  CAST(COALESCE(sum(CASE WHEN t = 1 AND p = 0 THEN n END), 0) AS BIGINT) AS n10,
        |  CAST(COALESCE(sum(CASE WHEN t = 1 AND p = 1 THEN n END), 0) AS BIGINT) AS n11,
        |  CAST(sum(CASE WHEN t = 0 AND p = 0 THEN s END) AS BIGINT) AS s00,
        |  CAST(sum(CASE WHEN t = 0 AND p = 1 THEN s END) AS BIGINT) AS s01,
        |  CAST(sum(CASE WHEN t = 1 AND p = 0 THEN s END) AS BIGINT) AS s10,
        |  CAST(sum(CASE WHEN t = 1 AND p = 1 THEN s END) AS BIGINT) AS s11
        |  FROM c)
        |SELECT n00, n01, n10, n11,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    round(s00::DOUBLE / n00::DOUBLE, 6) END AS mean00,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    round(s01::DOUBLE / n01::DOUBLE, 6) END AS mean01,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    round(s10::DOUBLE / n10::DOUBLE, 6) END AS mean10,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    round(s11::DOUBLE / n11::DOUBLE, 6) END AS mean11,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    round((s11::DOUBLE / n11::DOUBLE - s10::DOUBLE / n10::DOUBLE) -
        |      (s01::DOUBLE / n01::DOUBLE - s00::DOUBLE / n00::DOUBLE), 6)
        |  END AS did
        |FROM w""".stripMargin,

    // same exact decimal moments; Σ S_g²/n_g as 6dp decimal terms
    "q_anova" ->
      """WITH per AS (SELECT o_orderpriority AS g, count(*) AS n,
        |  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s,
        |  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) *
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS q2
        |  FROM orders GROUP BY 1),
        |terms AS (SELECT n, s, q2,
        |  CAST(round((s * s)::DOUBLE / n::DOUBLE, 6) AS DECIMAL(38,6)) AS a
        |  FROM per),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |  sum(s) AS st, sum(q2) AS qt, sum(a) AS at FROM terms)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND n > k
        |    AND qt::DOUBLE - at::DOUBLE > 0 THEN
        |    round((at::DOUBLE - (st * st)::DOUBLE / n::DOUBLE) / (k::DOUBLE - 1.0) /
        |      ((qt::DOUBLE - at::DOUBLE) / (n::DOUBLE - k::DOUBLE)), 6) END AS f,
        |  CASE WHEN qt::DOUBLE - (st * st)::DOUBLE / n::DOUBLE > 0 THEN
        |    round((at::DOUBLE - (st * st)::DOUBLE / n::DOUBLE) /
        |      (qt::DOUBLE - (st * st)::DOUBLE / n::DOUBLE), 6) END AS eta_sq
        |FROM agg""".stripMargin,

    // same doubled-midrank CDF, Σ R2_g²/n_g as 6dp terms, tie-corrected
    "q_dunn" ->
      """WITH base AS (SELECT o_orderpriority AS g,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cgv
        |  FROM base GROUP BY 1, 2),
        |vc AS (SELECT v, CAST(sum(cgv) AS BIGINT) AS c FROM cells GROUP BY 1),
        |cdf AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM vc),
        |mr AS (SELECT v, 2 * (cum - c) + c + 1 AS mr2,
        |  CAST(c AS HUGEINT) * c * c - c AS tie FROM cdf),
        |pg AS (SELECT g, CAST(sum(cgv) AS BIGINT) AS n,
        |  sum(CAST(cgv AS HUGEINT) * mr2) AS r2
        |  FROM cells JOIN mr USING (v) GROUP BY 1),
        |gl AS (SELECT sum(tie) AS t FROM mr),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pg),
        |p AS (SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |  a.r2 AS r2a, b.r2 AS r2b FROM pg a CROSS JOIN pg b WHERE a.g < b.g),
        |f AS (SELECT g1, g2, n1, n2, nn, r2a, r2b,
        |  (CAST(nn AS HUGEINT) * (nn + 1) * (nn - 1) - t)::DOUBLE AS bigd
        |  FROM p, gl, tot),
        |zc AS (SELECT g1, g2, n1, n2,
        |  CASE WHEN nn >= 2 AND bigd > 0 THEN
        |    round(((r2a::DOUBLE / n1::DOUBLE - r2b::DOUBLE / n2::DOUBLE) / 2.0)
        |      / sqrt((bigd / (12.0 * (nn::DOUBLE - 1.0))) *
        |          (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)), 6)
        |  END AS z FROM f)
        |SELECT g1, g2, n1, n2, z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 1.959964 END AS sig_95,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 2.575829 END AS sig_99
        |FROM zc ORDER BY g1, g2""".stripMargin,

    "q_kruskal" ->
      """WITH base AS (SELECT o_orderpriority AS g,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |cells AS (SELECT g, v, count(*) AS cgv FROM base GROUP BY 1, 2),
        |vc AS (SELECT v, CAST(sum(cgv) AS BIGINT) AS c FROM cells GROUP BY 1),
        |cdf AS (SELECT v, c, sum(c) OVER (ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM vc),
        |mr AS (SELECT v, 2 * (cum - c) + c + 1 AS mr2,
        |  CAST(c AS HUGEINT) * c * c - c AS tie FROM cdf),
        |pg AS (SELECT g, CAST(sum(cgv) AS BIGINT) AS ng,
        |  sum(CAST(cgv AS HUGEINT) * mr2) AS r2
        |  FROM cells JOIN mr USING (v) GROUP BY 1),
        |bt AS (SELECT ng,
        |  CAST(round((r2 * r2)::DOUBLE / ng::DOUBLE, 6) AS DECIMAL(38,6)) AS b
        |  FROM pg),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |  sum(b) AS bt FROM bt),
        |tt AS (SELECT sum(tie) AS t FROM mr)
        |SELECT k, n,
        |  CASE WHEN k >= 2 AND n >= 2 THEN
        |    round(3.0 * bt::DOUBLE / (n::DOUBLE * (n::DOUBLE + 1.0)) -
        |      3.0 * (n::DOUBLE + 1.0), 6) END AS h,
        |  CASE WHEN k >= 2 AND n >= 2
        |    AND 1.0 - t::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE) > 0 THEN
        |    round((3.0 * bt::DOUBLE / (n::DOUBLE * (n::DOUBLE + 1.0)) -
        |      3.0 * (n::DOUBLE + 1.0)) /
        |      (1.0 - t::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)),
        |      6) END AS h_corrected
        |FROM agg, tt""".stripMargin,

    // pooled-median straddle table, per-cell exact ppm floors in HUGEINT
    "q_mood" ->
      """WITH base AS (SELECT o_orderpriority AS g,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |vc AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1),
        |cdf AS (SELECT v, sum(cv) OVER (ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS b FROM vc),
        |nt AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM vc),
        |med AS (SELECT min(v) AS m FROM cdf, nt WHERE b >= (n + 1) // 2),
        |pg AS (SELECT g,
        |  CAST(sum(CASE WHEN v <= m THEN c ELSE 0 END) AS BIGINT) AS lo,
        |  CAST(sum(CASE WHEN v > m THEN c ELSE 0 END) AS BIGINT) AS hi
        |  FROM cells, med GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(lo + hi) AS BIGINT) AS n, CAST(sum(lo) AS BIGINT) AS cl,
        |  CAST(sum(hi) AS BIGINT) AS ch FROM pg)
        |SELECT k, n, m AS median,
        |  CAST(sum(
        |    (CASE WHEN (lo + hi) * cl > 0 THEN
        |      (CAST(lo AS HUGEINT) * n - CAST(lo + hi AS HUGEINT) * cl) *
        |      (CAST(lo AS HUGEINT) * n - CAST(lo + hi AS HUGEINT) * cl) * 1000000
        |      // (CAST(n AS HUGEINT) * (lo + hi) * cl) ELSE 0 END) +
        |    (CASE WHEN (lo + hi) * ch > 0 THEN
        |      (CAST(hi AS HUGEINT) * n - CAST(lo + hi AS HUGEINT) * ch) *
        |      (CAST(hi AS HUGEINT) * n - CAST(lo + hi AS HUGEINT) * ch) * 1000000
        |      // (CAST(n AS HUGEINT) * (lo + hi) * ch) ELSE 0 END)) AS BIGINT)
        |    AS chi2_ppm
        |FROM pg, tt, med GROUP BY k, n, m""".stripMargin,

    // doubled pair counts over the bounded (tier, bucket) cell grid,
    // no-tie variance, one ppm floor in HUGEINT
    "q_jt" ->
      """WITH base AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000000
        |    AS v
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |jt AS (SELECT CAST(coalesce(sum(CAST(a.c AS HUGEINT) * b.c *
        |    (CASE WHEN a.v < b.v THEN 2 WHEN a.v = b.v THEN 1 ELSE 0 END)),
        |    0) AS HUGEINT) AS jt2
        |  FROM cells a, cells b WHERE a.g < b.g),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cells GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(ng) AS BIGINT) AS n,
        |  sum(CAST(ng AS HUGEINT) * ng) AS sn2,
        |  sum(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS sn23 FROM pg),
        |z AS (SELECT k, n, CAST(jt2 AS BIGINT) AS jt2,
        |  CAST((CAST(n AS HUGEINT) * n - sn2) // 2 AS BIGINT) AS e2,
        |  CASE WHEN CAST(n AS HUGEINT) * n * (2 * n + 3) - sn23 > 0 THEN
        |    CAST((jt2 - (CAST(n AS HUGEINT) * n - sn2) // 2) *
        |      (jt2 - (CAST(n AS HUGEINT) * n - sn2) // 2) * 18 * 1000000
        |      // (CAST(n AS HUGEINT) * n * (2 * n + 3) - sn23) AS BIGINT)
        |  END AS z2_ppm
        |  FROM agg, jt)
        |SELECT k, n, jt2, e2, z2_ppm,
        |  z2_ppm > 3841459 AS trend_95, z2_ppm > 6634897 AS trend_99
        |FROM z""".stripMargin,

    // same union-vocab full outer + ½ p ln(2p/(p+q)) 6dp decimal terms
    "q_js_div" ->
      s"""WITH ta AS (SELECT unnest($W) AS tok FROM documents WHERE lang = 'en'),
         |tb AS (SELECT unnest($W) AS tok FROM documents WHERE lang = 'es'),
         |ca AS (SELECT tok, count(*) AS ca FROM ta GROUP BY 1),
         |cb AS (SELECT tok, count(*) AS cb FROM tb GROUP BY 1),
         |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |  CAST(sum(cb) AS BIGINT) AS n_b,
         |  CAST(count(*) AS BIGINT) AS n_tokens FROM j),
         |terms AS (SELECT n_tokens, n_a, n_b, CAST(round(
         |  (CASE WHEN ca > 0 THEN (ca::DOUBLE / n_a::DOUBLE) *
         |    ln(2.0 * (ca::DOUBLE / n_a::DOUBLE) /
         |      ((ca::DOUBLE / n_a::DOUBLE) + (cb::DOUBLE / n_b::DOUBLE)))
         |   ELSE 0.0 END) * 0.5 +
         |  (CASE WHEN cb > 0 THEN (cb::DOUBLE / n_b::DOUBLE) *
         |    ln(2.0 * (cb::DOUBLE / n_b::DOUBLE) /
         |      ((ca::DOUBLE / n_a::DOUBLE) + (cb::DOUBLE / n_b::DOUBLE)))
         |   ELSE 0.0 END) * 0.5, 6) AS DECIMAL(18,6)) AS t
         |  FROM j, tot)
         |SELECT n_tokens, n_a, n_b, CAST(sum(t) AS DOUBLE) AS js
         |FROM terms GROUP BY 1, 2, 3""".stripMargin,

    // first/last via one ordered window pass; same unordered-pair
    // ppm floors
    "q_bowker" ->
      """WITH fl AS (SELECT user_id AS u,
        |  first_value(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS a,
        |  last_value(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS b,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |per AS (SELECT u, a, b FROM fl WHERE rn = 1),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM per),
        |cells AS (SELECT least(a, b) AS x, greatest(a, b) AS y,
        |  CAST(sum(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT) AS nf,
        |  CAST(sum(CASE WHEN a > b THEN 1 ELSE 0 END) AS BIGINT) AS nr
        |  FROM per WHERE a <> b GROUP BY 1, 2),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS df,
        |  CAST(COALESCE(sum((nf - nr) * (nf - nr) * 1000000 //
        |    (nf + nr)), 0) AS BIGINT) AS chi2_ppm FROM cells)
        |SELECT n_units, df, chi2_ppm FROM nu CROSS JOIN ag""".stripMargin,

    // same md5-derived p; step-down = reject strictly below the
    // first failing rank
    "q_holm" ->
      """WITH p AS (SELECT c_custkey,
        |  CAST(('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::UBIGINT
        |    % 1000000 AS BIGINT) AS p_micros
        |  FROM customer),
        |r AS (SELECT c_custkey, p_micros,
        |  CAST(row_number() OVER (ORDER BY p_micros, c_custkey) AS BIGINT)
        |    AS rank,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM p),
        |ff AS (SELECT COALESCE(min(rank), 9223372036854775807) AS f
        |  FROM r WHERE p_micros * (n - rank + 1) > 50000)
        |SELECT c_custkey, p_micros, rank, rank < f AS rejected
        |FROM r CROSS JOIN ff ORDER BY rank""".stripMargin,

    // same md5-derived p, window rank, exact integer reject frontier
    "q_bh_fdr" ->
      """WITH p AS (SELECT c_custkey,
        |  CAST(('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::UBIGINT
        |    % 1000000 AS BIGINT) AS p_micros
        |  FROM customer),
        |r AS (SELECT c_custkey, p_micros,
        |  CAST(row_number() OVER (ORDER BY p_micros, c_custkey) AS BIGINT) AS rank,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM p),
        |cut AS (SELECT COALESCE(max(rank), 0) AS c FROM r
        |  WHERE p_micros * n <= rank * 50000)
        |SELECT c_custkey, p_micros, rank, rank <= c AS rejected
        |FROM r, cut ORDER BY rank""".stripMargin,

    // programmatic 9-state recursive CTE — see holtWintersOracle
    "q_holt_winters" -> holtWintersOracle,

    // same grouped p25/p75 + integer-percent fences + casualty counts
    "q_iqr" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |c1 AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |cdf AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM c1),
        |nn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c1 GROUP BY 1),
        |q1 AS (SELECT cdf.g, nn.n, min(v) AS q1 FROM cdf
        |  JOIN nn ON cdf.g = nn.g
        |  WHERE cum >= ceil(CAST(0.25 AS DOUBLE) * nn.n) GROUP BY 1, 2),
        |q3 AS (SELECT cdf.g, min(v) AS q3 FROM cdf JOIN nn ON cdf.g = nn.g
        |  WHERE cum >= ceil(CAST(0.75 AS DOUBLE) * nn.n) GROUP BY 1),
        |f AS (SELECT q1.g, q1.n, q1.q1, q3.q3,
        |  q1.q1 - (q3.q3 - q1.q1) * 150 // 100 AS lo_fence,
        |  q3.q3 + (q3.q3 - q1.q1) * 150 // 100 AS hi_fence
        |  FROM q1 JOIN q3 ON q1.g = q3.g)
        |SELECT base.g AS l_returnflag, any_value(f.n) AS n,
        |  any_value(q1) AS q1, any_value(q3) AS q3,
        |  any_value(lo_fence) AS lo_fence, any_value(hi_fence) AS hi_fence,
        |  CAST(sum(CASE WHEN v < lo_fence THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN v > hi_fence THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high
        |FROM base JOIN f ON base.g = f.g GROUP BY 1""".stripMargin,

    // same |d| midrank CDF, doubled W+ and matched-pairs biserial
    "q_wilcoxon" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |pair AS (SELECT a.cents - b.cents AS d
        |  FROM (SELECT day, cents FROM daily WHERE event_type = 'click') a
        |  JOIN (SELECT day, cents FROM daily WHERE event_type = 'view') b
        |  USING (day)
        |  WHERE a.cents - b.cents != 0),
        |c AS (SELECT abs(d) AS a, count(*) AS c,
        |  sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS p
        |  FROM pair GROUP BY 1),
        |cum AS (SELECT a, c, p, sum(c) OVER (ORDER BY a) AS cu FROM c)
        |SELECT CAST(sum(c) AS BIGINT) AS n_pairs,
        |  CAST(sum(p * (2 * (cu - c) + c + 1)) AS BIGINT) AS w_plus_x2,
        |  round((2 * sum(p * (2 * (cu - c) + c + 1)) -
        |    sum(c) * (sum(c) + 1))::DOUBLE /
        |    (sum(c) * (sum(c) + 1))::DOUBLE, 6) AS rank_biserial
        |FROM cum""".stripMargin,

    // day-joined triple; nine HUGEINT moments, identical r shapes
    "q_partial_corr" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.cents AS x, b.cents AS y, c.cents AS z
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  JOIN daily c ON a.day = c.day
        |  WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND c.event_type = 'view'),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(z AS HUGEINT)) AS sz,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(z AS HUGEINT) * z) AS szz,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * z) AS sxz,
        |  sum(CAST(y AS HUGEINT) * z) AS syz FROM j),
        |r AS (SELECT n,
        |  CAST(n * sxx - sx * sx AS DOUBLE) AS vxx,
        |  CAST(n * syy - sy * sy AS DOUBLE) AS vyy,
        |  CAST(n * szz - sz * sz AS DOUBLE) AS vzz,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy,
        |  CAST(n * sxz - sx * sz AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz,
        |  CAST(n * syz - sy * sz AS DOUBLE) /
        |    (sqrt(CAST(n * syy - sy * sy AS DOUBLE)) *
        |     sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz
        |  FROM m)
        |SELECT n,
        |  CASE WHEN vxx > 0 AND vyy > 0 AND vzz > 0 THEN round(rxy, 6) END
        |    AS r_xy,
        |  CASE WHEN vxx > 0 AND vyy > 0 AND vzz > 0 THEN round(rxz, 6) END
        |    AS r_xz,
        |  CASE WHEN vxx > 0 AND vyy > 0 AND vzz > 0 THEN round(ryz, 6) END
        |    AS r_yz,
        |  CASE WHEN vxx > 0 AND vyy > 0 AND vzz > 0
        |      AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
        |    round((rxy - rxz * ryz) /
        |      sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        |  END AS r_xy_z
        |FROM r""".stripMargin,

    // same day-matched join; exact S-moments in HUGEINT, mean-gap
    // penalty, the identical three IEEE readouts
    // same S-moments; one IEEE slope shape, intercept off rounded slope
    "q_deming" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.cents AS x, b.cents AS y
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM j),
        |s AS (SELECT n, sx, sy,
        |  n::HUGEINT * sxx - sx * sx AS vxx,
        |  n::HUGEINT * syy - sy * sy AS vyy,
        |  n::HUGEINT * sxy - sx * sy AS vxy FROM m),
        |sl AS (SELECT n, sx, sy,
        |  CASE WHEN vxy <> 0 THEN
        |    round((CAST(vyy - vxx AS DOUBLE) +
        |      sqrt(CAST(vyy - vxx AS DOUBLE) * CAST(vyy - vxx AS DOUBLE) +
        |        4.0 * (CAST(vxy AS DOUBLE) * CAST(vxy AS DOUBLE)))) /
        |      (2.0 * CAST(vxy AS DOUBLE)), 6)
        |  END AS slope FROM s)
        |SELECT n, slope,
        |  CASE WHEN slope IS NOT NULL THEN
        |    round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) /
        |      CAST(n AS DOUBLE), 6)
        |  END AS intercept
        |FROM sl""".stripMargin,

    // same day-matched pair; rounded bias/sd fences, integer d compare
    "q_bland_altman" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.cents - b.cents AS d
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  COALESCE(sum(CAST(d AS HUGEINT)), 0) AS s1,
        |  COALESCE(sum(CAST(d AS HUGEINT) * d), 0) AS s2 FROM j),
        |st AS (SELECT n,
        |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS bias,
        |  CASE WHEN n >= 2 THEN
        |    round(sqrt(CAST(n::HUGEINT * s2 - s1 * s1 AS DOUBLE) /
        |      CAST(n::HUGEINT * (n - 1) AS DOUBLE)), 6)
        |  END AS sd FROM m),
        |lo AS (SELECT n, bias, sd,
        |  CASE WHEN sd IS NOT NULL THEN round(bias - 1.96 * sd, 6) END
        |    AS loa_lo,
        |  CASE WHEN sd IS NOT NULL THEN round(bias + 1.96 * sd, 6) END
        |    AS loa_hi FROM st)
        |SELECT lo.n, bias, sd, loa_lo, loa_hi,
        |  CAST(COALESCE(sum(CASE WHEN loa_lo IS NOT NULL AND
        |    (CAST(d AS DOUBLE) < loa_lo OR CAST(d AS DOUBLE) > loa_hi)
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outside
        |FROM lo CROSS JOIN j GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "q_ccc" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.cents AS x, b.cents AS y
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM j),
        |s AS (SELECT n, n * sxx - sx * sx AS vxx, n * syy - sy * sy AS vyy,
        |  n * sxy - sx * sy AS vxy, (sx - sy) * (sx - sy) AS d2 FROM m)
        |SELECT n,
        |  CASE WHEN vxx > 0 AND vyy > 0 THEN
        |    round(2.0 * CAST(vxy AS DOUBLE) /
        |      CAST(vxx + vyy + d2 AS DOUBLE), 6) END AS ccc,
        |  CASE WHEN vxx > 0 AND vyy > 0 THEN
        |    round(CAST(vxy AS DOUBLE) /
        |      (sqrt(CAST(vxx AS DOUBLE)) * sqrt(CAST(vyy AS DOUBLE))), 6)
        |  END AS r,
        |  CASE WHEN vxx > 0 AND vyy > 0 AND vxy <> 0 THEN
        |    round((2.0 * CAST(vxy AS DOUBLE) /
        |      CAST(vxx + vyy + d2 AS DOUBLE)) /
        |      (CAST(vxy AS DOUBLE) /
        |       (sqrt(CAST(vxx AS DOUBLE)) * sqrt(CAST(vyy AS DOUBLE)))), 6)
        |  END AS c_b
        |FROM s""".stripMargin,

    // strictly-preceding running max per key, strict-record flags
    "q_records" ->
      """WITH daily AS (SELECT event_type AS k,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT k, day, cents,
        |  max(cents) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM daily),
        |r AS (SELECT k, day, cents,
        |  CASE WHEN pm IS NULL OR cents > pm THEN 1 ELSE 0 END AS rec FROM w)
        |SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rec) AS BIGINT) AS n_records,
        |  CAST(max(CASE WHEN rec = 1 THEN day END) AS BIGINT)
        |    AS last_record_tick,
        |  CAST(max(cents) AS BIGINT) AS max_value
        |FROM r GROUP BY 1""".stripMargin,

    // same doubled-midrank joins + six exact moment sums
    "q_spearman" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |pair AS (SELECT a.cents AS x, b.cents AS y
        |  FROM (SELECT day, cents FROM daily WHERE event_type = 'click') a
        |  JOIN (SELECT day, cents FROM daily WHERE event_type = 'view') b
        |  USING (day)),
        |rx AS (SELECT v AS x, 2 * (cu - c) + c + 1 AS r FROM (
        |  SELECT x AS v, count(*) AS c,
        |    sum(count(*)) OVER (ORDER BY x) AS cu FROM pair GROUP BY x)),
        |ry AS (SELECT v AS y, 2 * (cu - c) + c + 1 AS r FROM (
        |  SELECT y AS v, count(*) AS c,
        |    sum(count(*)) OVER (ORDER BY y) AS cu FROM pair GROUP BY y)),
        |m AS (SELECT count(*) AS n,
        |  CAST(sum(rx.r) AS HUGEINT) AS sx, CAST(sum(ry.r) AS HUGEINT) AS sy,
        |  sum(CAST(rx.r AS HUGEINT) * ry.r) AS sxy,
        |  sum(CAST(rx.r AS HUGEINT) * rx.r) AS sxx,
        |  sum(CAST(ry.r AS HUGEINT) * ry.r) AS syy
        |  FROM pair JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n,
        |  CASE WHEN n < 3 OR CAST(n * sxx - sx * sx AS DOUBLE) <= 0
        |    OR CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) END AS rho
        |FROM m""".stripMargin)
}
