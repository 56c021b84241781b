package graft

import graft.core.CacheRegistry
import graft.operators.{Dedup, Relational, TrainingData}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The gate-scale routes of the per-round operators: `kcenterSelect`
  * and `mmrRerank` pick on the driver, `prefixDups` sorts its rows in
  * one partition. This spec forces BOTH routes of each (through
  * `Relational.withLocalRoute`) over the same input and pins identical
  * output, errors included. The null-element expectations are the
  * oracle SQL's answers (DuckDB, `q_kcenter`/`q_mmr` oracles at dim 2).
  * The closed-form pick tests (TrainingDataSpec), the pickers' laws
  * (TrainingDataLaws) and the prefixDups boundary test (DedupSpec)
  * run on both routes where they stand; this spec holds the cases
  * they do not cover.
  */
class LocalRouteSpec extends SparkSpec {
  import spark.implicits._

  private def onRoute(local: Boolean)(f: => DataFrame): Seq[Row] =
    try Relational.withLocalRoute(local)(f).collect().toSeq
    finally CacheRegistry.unpersistAll()

  /** `f` built and collected on both routes; the rows must agree. */
  private def bothRoutes(f: => DataFrame): Seq[Row] = {
    val local = onRoute(local = true)(f)
    assert(local == onRoute(local = false)(f))
    local
  }

  /** `f` must fail on both routes; returns each route's exception. */
  private def bothFail(f: => DataFrame): (Throwable, Throwable) =
    (intercept[Throwable](onRoute(local = true)(f)),
      intercept[Throwable](onRoute(local = false)(f)))

  private def vecs(rows: (Long, Seq[Option[Float]])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def kc(df: DataFrame, k: Int) =
    TrainingData.kcenterSelect(df, "vec_id", "embedding", k)

  private def mmr(df: DataFrame, m: Int, lam: Long = 500000L) =
    TrainingData.mmrRerank(df, "vec_id", "embedding", "rel", m, lam)

  private def line(xs: (Long, Float)*) = vecs(xs.map { case (i, x) => i -> Seq(Some(x)) }: _*)

  test("kcenterSelect: identical picks on both routes over exact duplicate vectors") {
    // once the distinct points are covered every min-distance is 0, and
    // picked ids still never repeat
    val dups = vecs((1 to 6).map(i =>
      i.toLong -> Seq(Some((i % 3).toFloat), Some(0f))): _*)
    val picks = bothRoutes(kc(dups, 6))
    assert(picks.map(_.getLong(1)).distinct.size == 6)
    assert(picks.drop(3).forall(_.getLong(2) == 0L))
  }

  test("mmrRerank: identical picks on both routes — ties, duplicates, m beyond the count, λ ends") {
    val pts = (1 to 7).map(i => (i.toLong, Array((i % 3).toFloat, (i % 2).toFloat),
      (10 - i % 4).toLong)).toDF("vec_id", "embedding", "rel")
    for (lam <- Seq(0L, 500000L, 1000000L)) {
      val picks = bothRoutes(mmr(pts, 10, lam))
      assert(picks.map(_.getLong(1)).distinct.size == 7, s"lamPpm=$lam")
    }
    // λ = 1: pure (rel DESC, id) order — ties in rel go to the smaller id
    assert(bothRoutes(mmr(pts, 7, 1000000L)).map(_.getLong(1)) ==
      Seq(4L, 1L, 5L, 2L, 6L, 3L, 7L))
  }

  test("null vector elements follow the oracle's rule on both routes") {
    // a distance touching a NULL element is NULL, least() skips it,
    // and a NULL argmax key ranks last: id 3 is picked last, at NULL
    val mid = vecs(1L -> Seq(Some(0f), Some(0f)), 2L -> Seq(Some(1f), Some(0f)),
      3L -> Seq(Some(0f), None), 4L -> Seq(Some(0.5f), Some(0.5f)))
    assert(bothRoutes(kc(mid, 4)) == Seq(Row(1, 4L, 0L), Row(2, 1L, 500000L),
      Row(3, 2L, 500000L), Row(4, 3L, null)))
    val midRel = mid.join(Seq(1L -> 100L, 2L -> 90L, 3L -> 80L, 4L -> 10L)
      .toDF("vec_id", "rel"), "vec_id")
    assert(bothRoutes(mmr(midRel, 4)) == Seq(Row(1, 1L, 100L, 0L),
      Row(2, 2L, 90L, 1000000L), Row(3, 4L, 10L, 500000L), Row(4, 3L, 80L, null)))
    // the NULL-element vector as the FIRST pick: every round-2 distance
    // is NULL, so round 2 takes the smallest id at a NULL distance
    val first = vecs(1L -> Seq(Some(0f), Some(0f)), 2L -> Seq(Some(1f), Some(0f)),
      3L -> Seq(Some(0f), Some(2f)), 4L -> Seq(Some(0f), None))
    assert(bothRoutes(kc(first, 4)) == Seq(Row(1, 4L, 0L), Row(2, 1L, null),
      Row(3, 3L, 4000000L), Row(4, 2L, 1000000L)))
    val firstRel = vecs(1L -> Seq(Some(0f), None), 2L -> Seq(Some(1f), Some(0f)),
      3L -> Seq(Some(0f), Some(2f)), 4L -> Seq(Some(0.5f), Some(0.5f)))
      .join(Seq(1L -> 100L, 2L -> 90L, 3L -> 80L, 4L -> 10L).toDF("vec_id", "rel"), "vec_id")
    assert(bothRoutes(mmr(firstRel, 4)) == Seq(Row(1, 1L, 100L, 0L),
      Row(2, 2L, 90L, null), Row(3, 3L, 80L, 5000000L), Row(4, 4L, 10L, 500000L)))
  }

  test("NULL distances tie to the smaller id on both routes, whatever the row order") {
    // rows in DESCENDING id order, so the first NULL-distance candidate
    // met is the largest id. Id 6 (md5-smallest, and most relevant) has
    // a NULL element: every round-2 distance is NULL, five candidates
    // tie there, and id 5 stays NULL to the end.
    val desc = vecs(6L -> Seq(Some(0f), None), 5L -> Seq(None, Some(1f)),
      4L -> Seq(Some(0.5f), Some(0.5f)), 3L -> Seq(Some(0f), Some(1f)),
      2L -> Seq(Some(1f), Some(0f)), 1L -> Seq(Some(0f), Some(0f)))
    val rel = Seq(6L -> 100L, 5L -> 90L, 4L -> 10L, 3L -> 80L, 2L -> 50L, 1L -> 20L)
    // the DuckDB oracles' answers on this input
    val kcExpect = Seq(Row(1, 6L, 0L), Row(2, 1L, null), Row(3, 2L, 1000000L),
      Row(4, 3L, 1000000L), Row(5, 4L, 500000L), Row(6, 5L, null))
    val mmrExpect = Seq(Row(1, 6L, 100L, 0L), Row(2, 1L, 20L, null),
      Row(3, 3L, 80L, 1000000L), Row(4, 2L, 50L, 1000000L),
      Row(5, 4L, 10L, 500000L), Row(6, 5L, 90L, null))
    for (parts <- Seq(1, 3)) {
      val df = desc.repartition(parts)
      assert(bothRoutes(kc(df, 6)) == kcExpect, s"partitions=$parts")
      val withRel = df.join(rel.toDF("vec_id", "rel"), "vec_id").repartition(parts)
      assert(bothRoutes(mmr(withRel, 6)) == mmrExpect, s"partitions=$parts")
    }
  }

  test("the pickers' gate counts vectors at their real width") {
    // a local relation is sized from its row count, each array at one
    // element: 400 vectors of 4096 dims read a few KB of plan stats but
    // hold 13 MB of longs, over the 10 MB bound
    def frame(dim: Int) = (1 to 400).map(i => (i.toLong, Array.fill(dim)(i.toFloat)))
      .toDF("vec_id", "embedding")
    def gate(df: DataFrame) = TrainingData.pickersRouteLocal(df,
      TrainingData.pickerCandidates(df, "vec_id", "embedding", None), "embedding", "spec")
    val wide = frame(4096)
    val raw = TrainingData.pickerCandidates(wide, "vec_id", "embedding", None)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(raw < 10L * 1024 * 1024, s"raw estimate $raw")
    assert(!gate(wide))
    assert(gate(frame(8)))
    // a forced route probes nothing and wins
    assert(Relational.withLocalRoute(local = true)(gate(wide)))
  }

  test("empty-after-filter inputs fail with the same message on both routes") {
    val allEmpty = Seq((1L, Array.empty[Float], 1L)).toDF("vec_id", "embedding", "rel")
    val nullIds = Seq((Option.empty[Long], Array(1f, 2f), 1L)).toDF("vec_id", "embedding", "rel")
    val nullRel = Seq((1L, Array(1f, 2f), Option.empty[Long])).toDF("vec_id", "embedding", "rel")
    for ((df, build, op) <- Seq[(DataFrame, DataFrame => DataFrame, String)](
        (allEmpty, kc(_, 2), "kcenterSelect"), (nullIds, kc(_, 2), "kcenterSelect"),
        (allEmpty, mmr(_, 2), "mmrRerank"), (nullIds, mmr(_, 2), "mmrRerank"),
        (nullRel, mmr(_, 2), "mmrRerank"))) {
      val (l, d) = bothFail(build(df))
      assert(l.isInstanceOf[IllegalArgumentException] && d.isInstanceOf[IllegalArgumentException])
      assert(l.getMessage == d.getMessage)
      assert(l.getMessage.contains(op))
    }
  }

  test("an overflowing distance raises on both routes") {
    // milli-units of ±4·10⁶: the gap 8·10⁹ squares past Long.MaxValue
    val far = line(1L -> 4.0e6f, 2L -> -4.0e6f, 3L -> 0f)
    def overflows(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[ArithmeticException] && c.getMessage.contains("overflow"))
    val (l, d) = bothFail(kc(far, 2))
    assert(overflows(l) && overflows(d), s"local: $l\ndistributed: $d")
    val farRel = far.withColumn("rel", lit(1L))
    val (ml, md) = bothFail(mmr(farRel, 2))
    assert(overflows(ml) && overflows(md), s"local: $ml\ndistributed: $md")
    // k = 1 computes no distance, so nothing overflows on either route
    assert(bothRoutes(kc(far, 1)).size == 1)
    // with ANSI arithmetic off, both routes wrap the same way
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(bothRoutes(kc(far, 3)).size == 3)
      assert(bothRoutes(mmr(farRel, 3)).size == 3)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("prefixDups: identical on both routes over many texts") {
    val texts = (1 to 400).map(i => (i.toLong, "w" * (i % 7) + (i % 23).toString))
      .toDF("doc_id", "text").repartition(4)
    val got = bothRoutes(Dedup.prefixDups(texts, col("text"), partitions = 8)
      .select("doc_id").orderBy("doc_id"))
    assert(got.nonEmpty)
  }
}
