package graft

import graft.operators.{Relational, TrainingData}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Algebraic laws of the corpus-preparation operators: chunking must
  * partition the token stream exactly when stride == window and cover
  * it (with overlap ≤ window−stride) otherwise; packing offsets must
  * tile each shard's token tape with no gaps; sampling must be a
  * deterministic filter (idempotent, subset-monotone in the fraction).
  */
object TrainingDataLaws extends Properties("TrainingData") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val genWords = Gen.chooseNum(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta")))
  private val genDocs = Gen.listOfN(5, genWords)

  property("chunkWords with stride == window partitions the tokens exactly") =
    forAll(genDocs, Gen.chooseNum(1, 10)) { (docs, w) =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val chunks = TrainingData.chunkWords(df, Seq("doc_id"), "text", w, w)
        .select("doc_id", "chunk_id", "chunk")
        .as[(Long, Long, String)].collect()
      docs.zipWithIndex.forall { case (ws, i) =>
        val mine = chunks.filter(_._1 == i.toLong).sortBy(_._2)
        val rebuilt = mine.map(_._3).filter(_.nonEmpty).flatMap(_.split(" ")).toSeq
        rebuilt == ws // concatenating the chunks rebuilds the token stream
      }
    }

  property("packSequences offsets tile each shard tape with no gaps") =
    forAll(Gen.listOfN(12, Gen.chooseNum(0, 600)), Gen.chooseNum(100L, 1000L)) { (tokens, budget) =>
      val df = tokens.zipWithIndex
        .map { case (n, i) => (i.toLong, s"s${i % 3}", n) }.toDF("id", "src", "n")
      val out = TrainingData.packSequences(df, Seq(col("src")), Seq(col("id")), col("n"), budget)
        .select("src", "id", "n", "seq_index", "seq_offset")
        .as[(String, Long, Int, Long, Long)].collect()
      out.groupBy(_._1).forall { case (_, rows) =>
        val sorted = rows.sortBy(_._2)
        val begins = sorted.map(r => r._4 * budget + r._5) // absolute tape offset
        begins.head == 0L &&
          sorted.zip(begins).forall { case (r, b) => r._5 < budget && b >= 0 } &&
          begins.zip(sorted).toSeq.sliding(2).forall {
            case Seq((b1, r1), (b2, _)) => b2 == b1 + r1._3 // next doc starts where this ends
            case _ => true
          }
      }
    }

  property("hashSample is an idempotent, fraction-monotone filter") =
    forAll(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)) { (f1, f2) =>
      val (lo, hi) = if (f1 <= f2) (f1, f2) else (f2, f1)
      val df = spark.range(300).toDF("id")
      val small = TrainingData.hashSample(df, col("id"), lo).as[Long].collect().toSet
      val big = TrainingData.hashSample(df, col("id"), hi).as[Long].collect().toSet
      val again = TrainingData.hashSample(
        TrainingData.hashSample(df, col("id"), hi), col("id"), hi).as[Long].collect().toSet
      small.subsetOf(big) && again == big
    }

  property("winsorize clamps into [lo-bound, hi-bound] and fixes interior values") =
    forAll(
      Gen.listOfN(40, Gen.chooseNum(-1000.0, 1000.0)),
      Gen.chooseNum(0.01, 0.4)) { (vals, lo) =>
      val hi = 1.0 - lo
      val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }.toDF("g", "id", "v")
      val out = TrainingData.winsorize(df, Seq("g"), col("v"), lo, hi)
        .select("id", "v", "value_clipped").as[(Long, Double, Double)].collect()
      val clipped = out.map(_._3)
      val (cmin, cmax) = (clipped.min, clipped.max)
      out.forall { case (_, v, c) =>
        (c >= cmin && c <= cmax) && // all inside the clamp band
          (v < cmin || v > cmax || c == v) // interior values untouched
      }
    }

  property("deterministicShuffle emits positions 1..n exactly once for unique keys") =
    forAll(Gen.chooseNum(1, 120)) { n =>
      val df = spark.range(n).toDF("id")
      val pos = TrainingData.deterministicShuffle(df, col("id"))
        .select("pos").as[Long].collect().sorted.toSeq
      pos == (1L to n.toLong)
    }

  property("mixtureSample keeps are NESTED in temperature (lower T = subset)") =
    forAll(Gen.chooseNum(2, 5), Gen.chooseNum(0.1, 0.9), Gen.chooseNum(0.1, 0.9)) {
      (nDoms, tA, tB) =>
        val (lo, hi) = (math.min(tA, tB), math.max(tA, tB))
        val df = spark.range(600)
          .select(col("id"), (col("id") % nDoms).cast("string").as("dom"))
        def kept(t: Double) = TrainingData.mixtureSample(df, col("dom"), col("id"), t)
          .select("id").as[Long].collect().toSet
        // fraction (cmin/c)^(1-T) is monotone in T and the md5-threshold
        // rule is monotone in the fraction, so keeps nest
        kept(lo).subsetOf(kept(hi)) && kept(1.0) == (0L until 600L).toSet
    }

  property("funnel steps_done is monotone in the step-list prefix") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(1L, 50L),
      Gen.oneOf("a", "b", "c")))) { evs =>
      val df = evs.toDF("user_id", "sec", "event_type")
        .select(col("user_id"), col("sec").cast("timestamp").as("ts"), col("event_type"))
      def done(steps: Seq[String]) =
        graft.operators.Analytics.funnel(df, col("user_id"), col("ts"), col("event_type"), steps)
          .select("user_id", "steps_done").as[(Long, Int)].collect().toMap
      val d2 = done(Seq("a", "b")); val d3 = done(Seq("a", "b", "c"))
      // greedy matching of the first k steps ignores later steps, so a
      // k-step funnel equals the longer funnel truncated at k
      d2.keySet == d3.keySet && d2.forall { case (u, k) => k == math.min(d3(u), 2) }
    }

  property("budgetSelect equals the window-cumsum greedy prefix for any tokens/budget") =
    forAll(Gen.listOfN(30, Gen.chooseNum(0, 50)), Gen.chooseNum(0L, 800L)) { (tokens, budget) =>
      val df = tokens.zipWithIndex.map { case (n, i) => (i.toLong, n.toLong) }.toDF("id", "toks")
      val got = TrainingData.budgetSelect(df, Seq(col("id")), col("toks"), budget)
        .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1).toSeq
      graft.core.CacheRegistry.unpersistAll()
      val expected = tokens.zipWithIndex
        .scanLeft((-1L, 0L)) { case ((_, cum), (n, i)) => (i.toLong, cum + n) }
        .tail.filter(_._2 <= budget)
      got == expected
    }

  property("fuzzyJoin equals the quadratic levenshtein join on arbitrary short strings") =
    forAll(
      Gen.listOfN(8, Gen.chooseNum(0, 4).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))),
      Gen.listOfN(8, Gen.chooseNum(0, 4).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))),
      Gen.chooseNum(0, 2)) { (ls, rs, maxEdit) =>
      // tiny tri-letter strings maximize gram-poor cases — every pair
      // must still match the brute-force join (the prefix theorem never
      // applies here; this drives the fallback leg exclusively)
      val l = ls.toDF("v"); val r = rs.toDF("v")
      val got = graft.operators.Dedup.fuzzyJoin(l, r, "v", "v", maxEdit)
        .select("left_val", "right_val").as[(String, String)].collect().toSet
      val brute = l.select(col("v").as("left_val"))
        .crossJoin(r.select(col("v").as("right_val")))
        .where(levenshtein(col("left_val"), col("right_val")) <= maxEdit)
        .distinct().as[(String, String)].collect().toSet
      got == brute
    }

  property("duplicateSpanFraction is 0 for unique docs, 1 for verbatim copies, in [0,1] always") =
    forAll(Gen.chooseNum(2, 6)) { n =>
      val unique = (1 to n).map(i => (i.toLong, s"totally unique words number $i only here $i"))
      val copies = (1 to n).map(i => (100L + i, unique.head._2)) // verbatim copies of doc 1
      val df = (unique ++ copies).toDF("doc_id", "text")
      val out = graft.operators.Dedup.duplicateSpanFraction(df, "doc_id", "text", 2)
        .select("id", "dup_frac").as[(Long, Double)].collect().toMap
      graft.core.CacheRegistry.unpersistAll()
      out(1L) == 0.0 && copies.forall { case (id, _) => out(id) == 1.0 } &&
        out.values.forall(f => f >= 0.0 && f <= 1.0)
    }

  private val genVecPts: Gen[List[(Long, Float, Long)]] = for {
    n <- Gen.chooseNum(3, 10)
    xs <- Gen.listOfN(n, Gen.chooseNum(-50, 50))
    rs <- Gen.listOfN(n, Gen.chooseNum(-100L, 100L))
  } yield xs.zip(rs).zipWithIndex.map { case ((x, r), i) =>
    (i.toLong + 1, x / 10.0f, r)
  }

  /** `f` on the driver-side route and on the distributed one, which
    * must agree; returns the (one) answer.
    */
  private def bothRoutes[A](f: => Seq[A]): Option[Seq[A]] = {
    val Seq(local, dist) = Seq(true, false).map(l =>
      try Relational.withLocalRoute(l)(f)
      finally graft.core.CacheRegistry.unpersistAll())
    if (local == dist) Some(local) else None
  }

  property("kcenterSelect: distinct picks, non-increasing radius curve") =
    forAll(genVecPts, Gen.chooseNum(2, 5)) { (pts, k) =>
      val df = pts.map { case (id, x, _) => (id, Array(x)) }
        .toDF("vec_id", "embedding")
      bothRoutes(TrainingData.kcenterSelect(df, "vec_id", "embedding", k)
        .select("step", "vec_id", "d2_pick")
        .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq).exists { out =>
        val radii = out.drop(1).map(_._3) // step 1 has no distance
        out.length == k.min(pts.size) &&
          out.map(_._2).distinct.length == out.length &&
          radii.zip(radii.drop(1)).forall { case (a, b) => a >= b }
      }
    }

  property("mmrRerank at lambda=1 is exactly the (rel DESC, id) prefix") =
    forAll(genVecPts, Gen.chooseNum(2, 5)) { (pts, m) =>
      val df = pts.map { case (id, x, r) => (id, Array(x), r) }
        .toDF("vec_id", "embedding", "rel")
      val mm = m.min(pts.size)
      val expect = pts.sortBy { case (id, _, r) => (-r, id) }
        .take(mm).map(_._1)
      bothRoutes(TrainingData.mmrRerank(df, "vec_id", "embedding", "rel",
          m, lamPpm = 1000000L)
        .select("step", "vec_id").as[(Int, Long)].collect()
        .sortBy(_._1).map(_._2).toSeq).contains(expect)
    }
}
