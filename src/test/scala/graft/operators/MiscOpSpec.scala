package graft.operators

import graft.{EmptyFlow, Flow, SparkSpec}
import graft.sources.Source
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MiscOpSpec extends SparkSpec {
  import spark.implicits._

  test("Loop iterates to the empty-frontier fixpoint, accumulating every frontier") {
    val staging = java.nio.file.Files.createTempDirectory("graft_loop_spec_").toString
    val flow: Flow = Map("n" -> Seq(1, 3).toDF("v"))
    val out = Loop("n", df => df.select((col("v") * 2).as("v")).where(col("v") <= 10), staging)(flow)
    // frontiers: {1,3} -> {2,6} -> {4} (12 filtered) -> {8} -> {} (16 filtered)
    assert(out("n").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 6, 8))
    // ephemeral mode (localCheckpoint staging) computes the same fixpoint
    val eph = Loop("n", df => df.select((col("v") * 2).as("v")).where(col("v") <= 10),
      staging, ephemeral = true)(flow)
    assert(eph("n").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 6, 8))
  }

  test("Transformer.stateful folds in order and flushes the final accumulator") {
    val words = Seq((0, "aa"), (1, "bb"), (2, "cc"), (3, "dd")).toDF("pos", "w")
    val schema = StructType(Seq(StructField("line", StringType, nullable = false)))
    val t = Transformer.stateful[String](
      "s", Seq(col("pos")), schema, "",
      finish = acc => if (acc.nonEmpty) Seq(Row(acc)) else Nil) { (r, acc) =>
      val joined = if (acc.isEmpty) r.getString(1) else acc + " " + r.getString(1)
      if (joined.length >= 5) (Seq(Row(joined)), "") else (Nil, joined)
    }
    val out = t(Map("s" -> words))("s").as[String].collect().toSeq
    assert(out == Seq("aa bb", "cc dd")) // 2 emitted, none lost at end-of-stream
  }

  test("Transformer.flatMap expands rows") {
    val flow: Flow = Map("s" -> Seq("a b", "c").toDF("v"))
    val out = Transformer("s")(df => df.select(explode(split(col("v"), " ")).as("w")))(flow)
    assert(out("s").count() == 3)
  }

  test("SplitterTree.hash partitions disjointly and completely") {
    val flow: Flow = Map("in" -> (1 to 100).toDF("v"))
    val out = SplitterTree.hash("in", Seq("p0", "p1", "p2"), Seq(col("v")))(flow)
    val counts = Seq("p0", "p1", "p2").map(out(_).count())
    assert(counts.sum == 100)
    val all = Seq("p0", "p1", "p2").flatMap(out(_).as[Int].collect())
    assert(all.sorted == (1 to 100).toSeq) // disjoint + complete
  }

  test("Similarity.bruteForceTopK returns k ranked neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f))).toDF("id", "v")
    val out = Similarity.bruteForceTopK(vecs.where(col("id") === 0), vecs, "id", "v", 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 1L)) // by cosine desc
  }

  test("Similarity.matryoshkaEval: truncation flips the winner; full dims 1.0") {
    // q = (1,0); a = (2,0) wins full-dim, but at prefix 1 both a and b
    // tie at cosine 1 and the lower neighbor_id (b = 1) wins -> 0 overlap
    val q = Seq((10L, Array(1.0f, 0.0f))).toDF("id", "v")
    val c = Seq((1L, Array(1.0f, 3.0f)), (2L, Array(2.0f, 0.0f)))
      .toDF("id", "v")
    val out = Similarity.matryoshkaEval(q, c, "id", "v", k = 1, Seq(1, 2))
      .collect().map(r => r.getAs[Long]("prefix_dim") -> r).toMap
    assert(out(1L).getAs[Long]("overlap_ppm") == 0L)
    assert(out(2L).getAs[Long]("overlap_ppm") == 1000000L)
    assert(out(2L).getAs[Long]("n_queries") == 1L &&
      out(2L).getAs[Long]("k") == 1L)
  }

  test("Multimodal.bmpDecode: a real decoder drops into the pluggable slot") {
    // encode -> imageio decode round-trip, both via decodePartitioned
    // (the slot the stub defaults) and decodeBmpStats (raster access)
    val rows = Seq((1L, 5, 3, 17), (2L, 1, 1, 255), (3L, 13, 7, 0))
      .toDF("id", "w", "h", "v")
    val bmp = Multimodal.attachSyntheticBmp(rows, col("w"), col("h"), col("v"))
    val viaSlot = Multimodal.decodePartitioned(bmp, "payload",
        Multimodal.bmpDecode)
      .select("id", "width", "height", "format", "n_bytes")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))).toMap
    def expBytes(w: Int, h: Int) = (54 + ((w * 3 + 3) / 4) * 4 * h).toLong
    assert(viaSlot(1L) == ((5, 3, "bmp", expBytes(5, 3))))
    assert(viaSlot(2L) == ((1, 1, "bmp", expBytes(1, 1))))
    assert(viaSlot(3L) == ((13, 7, "bmp", expBytes(13, 7))))
    val stats = Multimodal.decodeBmpStats(bmp, "payload")
      .select("id", "px_mean").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == Map(1L -> 17L, 2L -> 255L, 3L -> 0L))
    // undecodable payload fails loudly, not silently
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeBmpStats(junk, "payload").collect()
    }
    assert(e.getMessage != null)
  }

  test("Multimodal.imageDecode: png/gif lossless round-trip at every intensity; jpeg dims exact; sniff beats labels") {
    // all 256 intensities through the JDK png and gif encoders decode
    // back EXACTLY (the q_decode_png / q_decode_gif oracle contract)
    val rows = (0 until 256).map(v => (v.toLong, (v % 13) + 1, (v % 7) + 1, v))
      .toDF("id", "w", "h", "v")
    for (fmt <- Seq("png", "gif")) {
      val img = Multimodal.attachSyntheticImage(rows,
        col("w"), col("h"), col("v"), lit(fmt))
      Multimodal.decodeImageStats(img, "payload")
        .select("id", "width", "height", "format", "px_mean")
        .collect().foreach { r =>
          val v = r.getLong(0).toInt
          assert(r.getInt(1) == (v % 13) + 1 && r.getInt(2) == (v % 7) + 1,
            s"$fmt dims v=$v")
          assert(r.getString(3) == fmt, s"$fmt sniff v=$v")
          assert(r.getLong(4) == v.toLong, s"$fmt mean v=$v got ${r.getLong(4)}")
        }
    }
    // jpeg: dims + sniffed container exact (the oracle pin); the lossy
    // pixel mean stays within 2 of the constructed intensity on a
    // solid raster (spec-bounded, deliberately NOT oracle-pinned)
    Multimodal.decodeImageStats(
      Multimodal.attachSyntheticImage(rows, col("w"), col("h"), col("v"),
        lit("jpeg")), "payload")
      .select("id", "width", "height", "format", "px_mean")
      .collect().foreach { r =>
        val v = r.getLong(0).toInt
        assert(r.getInt(1) == (v % 13) + 1 && r.getInt(2) == (v % 7) + 1)
        assert(r.getString(3) == "jpeg")
        assert(math.abs(r.getLong(4) - v) <= 2,
          s"jpeg mean v=$v got ${r.getLong(4)}")
      }
    // the sniff reads MAGIC BYTES, never a label: a bmp payload through
    // the generic path reports bmp with exact pixels
    val viaGeneric = Multimodal.decodeImageStats(
      Multimodal.attachSyntheticBmp(Seq((1L, 5, 3, 17)).toDF("id", "w", "h", "v"),
        col("w"), col("h"), col("v")), "payload").head()
    assert(viaGeneric.getAs[String]("format") == "bmp" &&
      viaGeneric.getAs[Long]("px_mean") == 17L)
    // junk payloads fail loudly, not silently
    val junk = Seq((9L, "not an image at all".getBytes("US-ASCII")))
      .toDF("id", "payload")
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImageStats(junk, "payload").collect()
    }
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePartitioned(junk, "payload").collect()
    }
    // imageDecode is the slot's DEFAULT: a png payload needs no
    // explicit decoder argument
    val png = Multimodal.attachSyntheticImage(
      Seq((1L, 4, 2, 9)).toDF("id", "w", "h", "v"),
      col("w"), col("h"), col("v"), lit("png"))
    val slot = Multimodal.decodePartitioned(png, "payload").head()
    assert(slot.getAs[Int]("width") == 4 && slot.getAs[Int]("height") == 2 &&
      slot.getAs[String]("format") == "png")
  }

  test("Multimodal.wavDecode: a real audio decoder drops into the pluggable slot") {
    // on/off square wave, hand-computed: n=10, amp=100, period=3 ->
    // samples 0-2,6-8 on (nz=6), frames of 4 -> energies 3a²,2a²,1a²
    val rows = Seq((1L, 10, 100, 3), (2L, 1, 5, 1), (3L, 8, 2, 4))
      .toDF("id", "n", "a", "p")
    val wav = Multimodal.attachSyntheticWav(rows, col("n"), col("a"), col("p"))
    // the decodePartitioned slot takes the audio decoder unchanged
    val viaSlot = Multimodal.decodePartitioned(wav, "payload",
        Multimodal.wavDecode)
      .select("id", "width", "height", "format")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(viaSlot == Map(1L -> ((8000, 10, "wav")),
      2L -> ((8000, 1, "wav")), 3L -> ((8000, 8, "wav"))))
    val stats = Multimodal.decodeWavStats(wav, "payload")
      .select("id", "sample_rate", "n_samples", "n_bytes", "peak",
        "nz_samples", "energy")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(stats(1L) == ((8000, 10L, 64L, 100L, 6L, 60000L)))
    assert(stats(2L) == ((8000, 1L, 46L, 5L, 1L, 25L)))
    assert(stats(3L) == ((8000, 8L, 60L, 2L, 4L, 16L)))
    // per-frame REAL energies pooled per payload
    val ff = Multimodal.audioFrameFeatures(wav, "id", "payload", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(ff(1L) == ((3L, 100L, 30000L, 60000L)))
    assert(ff(2L) == ((1L, 5L, 25L, 25L)))
    assert(ff(3L) == ((2L, 2L, 16L, 16L)))
    // undecodable payload fails loudly, not silently
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWavStats(junk, "payload").collect()
    }
    assert(e.getMessage != null)
    // null construction inputs fail with the operator's name
    val nulls = Seq((1L, Option.empty[Int], Option(3), Option(4)))
      .toDF("id", "n", "a", "p")
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.attachSyntheticWav(nulls, col("n"), col("a"), col("p"))
        .collect()
    }
    assert(e2.getMessage.contains("attachSyntheticWav"))
  }

  test("Multimodal.audioSceneCuts: real-energy cuts, threshold poles") {
    val rows = Seq(
      (1L, 10, 100, 3), // frame energies 30000, 20000, 10000 -> 2 cuts
      (3L, 8, 2, 4),    // energies 16, 0 -> 1 cut
      (4L, 16, 3, 2))   // on2/off2: every frame of 4 has 2 on -> equal
      .toDF("id", "n", "a", "p")
    val wav = Multimodal.attachSyntheticWav(rows, col("n"), col("a"), col("p"))
    val cuts = Multimodal.audioSceneCuts(wav, "id", "payload", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(cuts(1L) == ((3L, 2L, 3L, 1L)))
    assert(cuts(3L) == ((2L, 1L, 2L, 1L)))
    assert(cuts(4L) == ((4L, 0L, 1L, 4L)))
    // MaxValue threshold: no gap can fire -> one segment of n_frames
    val none = Multimodal.audioSceneCuts(wav, "id", "payload", 4,
      gapThreshold = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(none(1L) == ((0L, 1L, 3L)))
    // threshold -1: every consecutive pair fires, even equal energies
    val all = Multimodal.audioSceneCuts(wav, "id", "payload", 4,
      gapThreshold = -1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(all(4L) == ((3L, 4L, 1L)))
  }

  test("Multimodal.sceneCuts: threshold poles and run-length invariants") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (2L, "x")).toDF("doc_id", "text")
    val bin = Multimodal.attachBinary(docs, "text")
    // MaxValue threshold: no gap can fire -> one segment of nFrames
    val none = Multimodal.sceneCuts(bin, "doc_id", "payload", 4,
      gapThreshold = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(none(1L).getAs[Long]("n_frames") == 4L)
    assert(none(1L).getAs[Long]("n_cuts") == 0L &&
      none(1L).getAs[Long]("n_segments") == 1L &&
      none(1L).getAs[Long]("max_segment_len") == 4L)
    // threshold -1: every consecutive pair fires (gap >= 0 > -1)
    val all = Multimodal.sceneCuts(bin, "doc_id", "payload", 4,
      gapThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(all(1L).getAs[Long]("n_cuts") == 3L &&
      all(1L).getAs[Long]("n_segments") == 4L &&
      all(1L).getAs[Long]("max_segment_len") == 1L)
    // a 1-byte payload: frame 0 reads "x", frames 1..3 read the empty
    // tail -> exactly one signature change at threshold 0, and the
    // three identical empty frames form the longest run
    val same = Multimodal.sceneCuts(bin, "doc_id", "payload", 4,
      gapThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(same(2L).getAs[Long]("n_cuts") == 1L &&
      same(2L).getAs[Long]("n_segments") == 2L &&
      same(2L).getAs[Long]("max_segment_len") == 3L)
  }

  test("Multimodal.patchGrid covers every pixel once, clipping edge tiles") {
    // 100x70 image, 64px patches -> 2x2 grid; right/bottom tiles clipped
    val df = Seq((1L, 100, 70)).toDF("id", "w", "h")
    val out = Multimodal.patchGrid(df, "id", col("w"), col("h"), 64)
      .collect().map(r => (r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out == Map(
      (0L, 0L) -> ((0L, 0L, 64L, 64L)), (1L, 0L) -> ((64L, 0L, 36L, 64L)),
      (0L, 1L) -> ((0L, 64L, 64L, 6L)), (1L, 1L) -> ((64L, 64L, 36L, 6L))))
    // total patch area == image area (every pixel exactly once)
    val area = Multimodal.patchGrid(df, "id", col("w"), col("h"), 64)
      .agg(sum(col("pw") * col("ph"))).collect().head.getLong(0)
    assert(area == 100L * 70L)
  }

  test("Similarity.mutualKnnGraph keeps only reciprocated top-k links") {
    // 0 and 1 are near-parallel (mutual top-1); 2 is orthogonal-ish:
    // with k=1 its best neighbor is 1, but 1's best is 0 -> no edge
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.95f, 0.05f)),
      (2L, Array(0.1f, 1.0f))).toDF("id", "v")
    val out = Similarity.mutualKnnGraph(vecs, "id", "v", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L)))
    // k=2 makes every pair mutual on 3 nodes: all 3 edges appear
    assert(Similarity.mutualKnnGraph(vecs, "id", "v", k = 2).count() == 3L)
  }

  test("Similarity.ivfKnnGraph with nprobe = nlist equals the brute graph exactly") {
    // probing every cell makes the candidate set the whole corpus, so
    // the ANN graph must coincide with brute force edge-for-edge —
    // and the mutual variant with mutualKnnGraph
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
    val ann = Similarity.ivfKnnGraph(vecs, "id", "v", k = 3, nlist = 4, nprobe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(vecs, vecs, "id", "v", 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ann == brute)
    val mu = Similarity.ivfKnnGraph(vecs, "id", "v", k = 3, nlist = 4, nprobe = 4,
      mutual = true).select("a", "b").as[(Long, Long)].collect().toSet
    val muBrute = Similarity.mutualKnnGraph(vecs, "id", "v", k = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(mu == muBrute)
  }

  test("mutual-kNN routed through ivfKnnGraph candidates — the documented scale composition") {
    // the composition a corpus-scale caller writes instead of
    // mutualKnnGraph's broadcast kernel: directed IVF top-k once, then
    // the reversed-pair mutual filter over the CANDIDATE frame — same
    // edges as ivfKnnGraph(mutual = true) at the same nprobe, with no
    // broadcast of the vector set anywhere
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 60L)
      .map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    val directed = Similarity
      .ivfKnnGraph(vecs, "id", "v", k = 3, nlist = 4, nprobe = 2)
      .localCheckpoint(true)
    val lo = directed.where(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        col("rank").as("rank_a"))
    val hi = directed.where(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("a"), col("query_id").as("b"),
        col("rank").as("rank_b"))
    val routed = lo.join(hi, Seq("a", "b"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    val direct = Similarity.ivfKnnGraph(vecs, "id", "v", k = 3, nlist = 4,
      nprobe = 2, mutual = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(routed == direct && routed.nonEmpty)
  }

  test("Similarity.probeCells picks each query's nprobe nearest cells, cosine desc then cell asc") {
    // cell 1 is cell 0 scaled by 2: every query's cosine against them
    // ties bit-for-bit, so the tie-break to the lower cell is exercised
    val cents = Seq(
      Array(1.0, 0.0, 0.0), Array(2.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0), Array(1.0, 1.0, 0.0))
    val centroids = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val queries = Seq(
      (1L, Array(1.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)), // wrong dimension: every cosine is null
      (4L, Array(0.0f, 0.0f, 0.0f)), // all-zero: every cosine is 0.0
      (5L, Array(-1.0f, 0.2f, 0.1f)))
    val nprobe = 3
    // plain-Scala reference: the fused kernel's accumulation order
    def cos(q: Array[Float], c: Array[Double]): Option[Double] =
      if (q.length != c.length) None
      else {
        var (dot, na, nb) = (0.0, 0.0, 0.0)
        q.indices.foreach { i =>
          val x = q(i).toDouble; val y = c(i)
          dot += x * y; na += x * x; nb += y * y
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        Some(if (denom == 0.0) 0.0 else dot / denom)
      }
    val expected = queries.map { case (id, q) =>
      val scored = cents.indices.map(c => (cos(q, cents(c)), c))
      val order =
        if (scored.forall(_._1.isEmpty)) scored.map(_._2)
        else scored.sortBy { case (s, c) => (-s.get, c) }.map(_._2)
      id -> order.take(nprobe)
    }.toMap
    val out = Similarity.probeCells(queries.toDF("query_id", "q_vec"),
        "query_id", "q_vec", centroids, nprobe, Seq("q_vec"))
      .select("query_id", "q_vec", "cell").as[(Long, Seq[Float], Int)].collect()
    val got = out.groupBy(_._1).map { case (id, rows) => id -> rows.map(_._3).toSeq }
    assert(got == expected)
    assert(expected(3L) == Seq(0, 1, 2) && expected(4L) == Seq(0, 1, 2))
    assert(expected(1L).take(2) == Seq(5, 0)) // then the 0/1 tie, lower cell wins
    // the carried column rides along unchanged
    val vecOf = queries.toMap
    assert(out.forall { case (id, v, _) => v == vecOf(id).toSeq })
  }

  test("Similarity.ivfTopK finds exact duplicates through the probed cells") {
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = (base :+ (999L, base(5)._2.clone())).toDF("id", "v") // 999 == vector 5
    val out = Similarity.ivfTopK(
      corpus.where(col("id") === 5), corpus, "id", "v", k = 3, nlist = 4, nprobe = 2)
    val top = out.orderBy("rank").collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[Long]("neighbor_id") == 999L) // identical vector shares the cell
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("IvfIndex round-trips through cell-partitioned parquet with identical probe results") {
    import spark.implicits._
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array(math.cos(i / 8.0).toFloat, math.sin(i / 8.0).toFloat))).toDF("id", "v")
    val index = Similarity.buildIvfIndex(corpus, "id", "v", nlist = 4, trainSample = 32)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    index.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.nlist == index.nlist)
    val q = corpus.where(col("id") === 7)
    def probe(ix: Similarity.IvfIndex) =
      Similarity.ivfQuery(ix, q, "id", "v", k = 3, nprobe = 2)
        .select("neighbor_id").as[Long].collect().toSeq
    assert(probe(loaded) == probe(index))
    // the saved layout is cell-partitioned (one directory per cell)
    val cells = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cells.nonEmpty && cells.size <= 4)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("addToIvfIndex appends a day-2 batch under the frozen quantizer") {
    import spark.implicits._
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array(math.cos(i / 8.0).toFloat, math.sin(i / 8.0).toFloat))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivf_add").toString
    Similarity.buildIvfIndex(corpus, "id", "v", nlist = 4, trainSample = 32).save(dir)
    // batch: an exact clone of vector 7 under a new id
    val batch = corpus.where(col("id") === 7).select((col("id") + 1000L).as("id"), col("v"))
    Similarity.addToIvfIndex(spark, dir, batch, "id", "v")
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // the clone lands in vector 7's own cell, so a probe for 7 (self
    // excluded) now surfaces it at cosine 1.0 ahead of true neighbors
    val hits = Similarity.ivfQuery(loaded, corpus.where(col("id") === 7), "id", "v",
      k = 2, nprobe = 1).select("neighbor_id").as[Long].collect()
    assert(hits.length == 2 && hits.contains(1007L))
    assert(loaded.assigned.count() == 65)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("addToIvfIndex casts a drifted batch vector type to the standing index schema") {
    import spark.implicits._
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array(math.cos(i / 4.0).toFloat, math.sin(i / 4.0).toFloat))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivf_cast").toString
    Similarity.buildIvfIndex(corpus, "id", "v", nlist = 2, trainSample = 16).save(dir)
    // a day-2 producer drifted to array<double> — the append must be
    // pinned back to the standing array<float>, or the mixed footers
    // would poison every later load
    val batch = Seq((2000L, Array(0.5d, 0.5d))).toDF("id", "v")
    Similarity.addToIvfIndex(spark, dir, batch, "id", "v")
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.assigned.count() == 33)
    assert(loaded.assigned.schema("c_vec").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    // non-numeric element types must fail fast, not append garbage
    val bad = Seq((3000L, Array("x", "y"))).toDF("id", "v")
    intercept[IllegalArgumentException](Similarity.addToIvfIndex(spark, dir, bad, "id", "v"))
    // a drifted id type (int batch under a long index) gets the same
    // pin — appended footers must stay int64
    val idDrift = Seq((4000, Array(0.25f, 0.25f))).toDF("id", "v")
    Similarity.addToIvfIndex(spark, dir, idDrift, "id", "v")
    val reloaded = Similarity.loadIvfIndex(spark, dir)
    assert(reloaded.assigned.count() == 34)
    assert(reloaded.assigned.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.LongType)
    // a non-castable id type fails fast
    val badId = Seq(("nope", Array(0.1f, 0.1f))).toDF("id", "v")
    intercept[IllegalArgumentException](Similarity.addToIvfIndex(spark, dir, badId, "id", "v"))
    // NARROWING is refused too: a long batch id under an int-id index
    // would silently wrap identities into the footers
    val corpusInt = (0 until 8).map(i => (i, Array(i.toFloat, -i.toFloat))).toDF("id", "v")
    val dirInt = java.nio.file.Files.createTempDirectory("ivf_narrow").toString
    Similarity.buildIvfIndex(corpusInt, "id", "v", nlist = 2, trainSample = 8).save(dirInt)
    val wide = Seq((5000000000L, Array(0.5f, 0.5f))).toDF("id", "v")
    intercept[IllegalArgumentException](Similarity.addToIvfIndex(spark, dirInt, wide, "id", "v"))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("Similarity.buildIvfIndex trains on a sample and serves repeated query batches") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = (base :+ (999L, base(7)._2.clone())).toDF("id", "v")
    val index = Similarity.buildIvfIndex(corpus, "id", "v", nlist = 4, trainSample = 32)
    assert(index.nlist == 4)
    assert(index.centroids.count() == 4)
    assert(index.assigned.count() == 81) // every corpus vector assigned a cell
    // two query batches against the SAME index — no retraining
    val q1 = Similarity.ivfQuery(index, corpus.where(col("id") === 7), "id", "v", k = 2, nprobe = 2)
    assert(q1.orderBy("rank").collect().head.getAs[Long]("neighbor_id") == 999L)
    val q2 = Similarity.ivfQuery(index, corpus.where(col("id") === 999), "id", "v", k = 2, nprobe = 2)
    assert(q2.orderBy("rank").collect().head.getAs[Long]("neighbor_id") == 7L)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("Similarity.pqTopK ranks an exact duplicate first; rerank path returns exact cosine") {
    val rnd = new scala.util.Random(13)
    val base = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = (base :+ (999L, base(5)._2.clone())).toDF("id", "v")
    val q = corpus.where(col("id") === 5)
    // ADC-only: the duplicate encodes to the same codes -> top ADC score
    val adc = Similarity.pqTopK(q, corpus, "id", "v", k = 3, m = 4, kSub = 16, trainSample = 32)
      .orderBy("rank").collect()
    assert(adc.head.getAs[Long]("neighbor_id") == 999L)
    // rerank: exact cosine of the duplicate is 1.0
    val rr = Similarity.pqTopK(q, corpus, "id", "v", k = 3, m = 4, kSub = 16,
      rerank = 10, trainSample = 32)
      .orderBy("rank").collect()
    assert(rr.head.getAs[Long]("neighbor_id") == 999L)
    assert(rr.head.getAs[Double]("cosine") == 1.0)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("PqIndex round-trips through parquet with identical ADC results") {
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array(math.cos(i / 8.0).toFloat, math.sin(i / 8.0).toFloat,
        math.cos(i / 5.0).toFloat, math.sin(i / 5.0).toFloat))).toDF("id", "v")
    val index = Similarity.buildPqIndex(corpus, "id", "v", m = 2, kSub = 8, trainSample = 32)
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    index.save(dir)
    val loaded = Similarity.loadPqIndex(spark, dir)
    assert(loaded.m == index.m && loaded.kSub == index.kSub)
    assert(loaded.codebooks.map(_.toSeq.map(_.toSeq)).toSeq ==
      index.codebooks.map(_.toSeq.map(_.toSeq)).toSeq)
    val q = corpus.where(col("id") === 7)
    def probe(ix: Similarity.PqIndex) =
      Similarity.pqQuery(ix, q, "id", "v", k = 3)
        .select("neighbor_id").as[Long].collect().toSeq
    assert(probe(loaded) == probe(index))
    graft.core.CacheRegistry.unpersistAll()
  }

  test("addToPqIndex appends a day-2 batch under the frozen codebooks") {
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array(math.cos(i / 8.0).toFloat, math.sin(i / 8.0).toFloat,
        math.cos(i / 5.0).toFloat, math.sin(i / 5.0).toFloat))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("pq_add").toString
    Similarity.buildPqIndex(corpus, "id", "v", m = 2, kSub = 8, trainSample = 32).save(dir)
    // batch: an exact clone of vector 7 under a new id, with a DRIFTED
    // id type (int, standing index holds long) — must cast, not poison
    val batch = corpus.where(col("id") === 7)
      .select((col("id") + 2000L).cast("int").as("id"), col("v"))
    Similarity.addToPqIndex(spark, dir, batch, "id", "v")
    val loaded = Similarity.loadPqIndex(spark, dir)
    assert(loaded.codes.count() == 65)
    assert(loaded.codes.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.LongType)
    // identical codes => identical ADC score, so the clone TIES the
    // top score of vector 7's neighbors (self excluded). Assert by
    // SCORE, not by rank alone: on this smooth circle corpus adjacent
    // vectors can legally share 7's exact code, and the id tiebreak
    // then ranks them (smaller ids) above the 2007 clone — a k=2 rank
    // assertion would encode the tiebreak, not the semantics.
    val hits = Similarity.pqQuery(loaded, corpus.where(col("id") === 7),
        "id", "v", k = 10)
      .select(col("neighbor_id"), col("adc")).as[(Long, Double)].collect()
    val topScore = hits.map(_._2).max
    val clone = hits.find(_._1 == 2007L)
    assert(clone.nonEmpty && clone.get._2 == topScore,
      s"clone must tie the top ADC score; got $clone vs top $topScore")
    graft.core.CacheRegistry.unpersistAll()
  }

  test("ivfPqTopK surfaces a planted clone; probing every cell + rerank recovers brute-force exactly") {
    val rnd = new scala.util.Random(7)
    val base = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = (base :+ (999L, base(5)._2.clone())).toDF("id", "v")
    val q = corpus.where(col("id") === 5)
    // full probe + rerank >= corpus => exact: must equal brute force
    val exact = Similarity.ivfPqTopK(q, corpus, "id", "v", k = 3,
      nlist = 4, nprobe = 4, m = 4, kSub = 16, rerank = 81)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(q, corpus, "id", "v", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(exact == brute)
    assert(exact.head == 999L) // the clone ranks first at cosine 1.0
    // pruned probe still finds the clone (it shares the query's cell)
    val pruned = Similarity.ivfPqTopK(q, corpus, "id", "v", k = 3,
      nlist = 4, nprobe = 1, m = 4, kSub = 16)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(pruned.head == 999L)
    // ivfPqQuery(rerank = 0) probing every cell scores exactly what a
    // plain ADC scan over the same codes does
    val idx = Similarity.buildIvfPqIndex(corpus, "id", "v", nlist = 4, m = 4, kSub = 16)
    val adc = Similarity.ivfPqQuery(idx, q, "id", "v", k = 3, nprobe = 4, rerank = 0)
      .as[(Long, Long, Double, Int)].collect().toSet
    val scan = Similarity.pqQuery(
        Similarity.PqIndex(idx.codebooks, idx.codes.drop("cell"), idx.m, idx.kSub),
        q, "id", "v", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(adc.size == 3 && adc == scan)
    assert(adc.exists { case (_, n, _, r) => n == 999L && r == 1 })
    graft.core.CacheRegistry.unpersistAll()
  }

  test("buildIvfPqIndex scans the corpus exactly twice: one shared training sample + one assign/encode pass") {
    // The r13 build sampled the corpus once for the coarse centroids
    // and AGAIN (identical inputs) for the PQ codebooks — a whole
    // redundant projected-corpus scan per index build. Pin the scan
    // count with a row-counting accumulator on the corpus: sample
    // pass + assign/encode pass = exactly 2 corpus reads.
    val rnd = new scala.util.Random(11)
    val n = 60
    val base = (0L until n.toLong).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val acc = spark.sparkContext.longAccumulator("corpus_rows_read")
    val seen = udf { (_: Long) => acc.add(1L); true }
    val corpus = base.toDF("id", "v").filter(seen(col("id")))
    val idx = Similarity.buildIvfPqIndex(corpus, "id", "v",
      nlist = 4, m = 4, kSub = 8, trainSample = 32, seed = 3L)
    assert(idx.codes.count() == n) // codes already materialized in build
    val scans = acc.value.toDouble / n
    // accumulator updates in transformations are at-least-once: a task
    // retry or speculative attempt double-counts a partition's rows, so
    // the pin is a BAND — >= 2 (both passes ran) and strictly < 3 (a
    // third full corpus scan, the r13 regression, still trips it) —
    // instead of an equality that flakes on a retried task
    assert(scans >= 2.0 && scans < 3.0,
      s"IVF-PQ build must read the corpus exactly twice (shared sample " +
        s"+ assign/encode), saw $scans passes")
    graft.core.CacheRegistry.unpersistAll()
  }

  test("Multimodal stub decode is deterministic and partition-preserving") {
    val df = Seq((1L, "hello world")).toDF("id", "text")
    // the stub is EXPLICIT now (the slot defaults to the real decoder)
    val out = Multimodal.decodePartitioned(
      Multimodal.attachBinary(df, "text"), "payload", Multimodal.stubDecode)
    val r = out.collect().head
    assert(r.getAs[Long]("n_bytes") == 11L)
    assert(r.getAs[Int]("width") == (11 % 512) + 64)
    assert(r.getAs[String]("format") == "stub") // honest label, not a fake media format
    val meta = Multimodal.fakeDecodeMeta(Multimodal.attachBinary(df, "text")).collect().head
    assert(meta.getAs[Int]("width") == r.getAs[Int]("width")) // stub == column path
    assert(meta.getAs[String]("format") == "stub")
  }

  test("Sink removes its stream; async sinks complete on drain") {
    val flag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flow: Flow = Map("s" -> Seq(1).toDF("v"))
    val out = graft.sinks.Sink("s", df => { df.count(); flag.set(true) }, sync = false)(flow)
    assert(out.isEmpty)
    graft.sinks.Sink.drain()
    assert(flag.get())
  }

  test("randomProject: deterministic JL projection preserves pairwise distance roughly") {
    import org.apache.spark.sql.functions.{col, udf}
    val rnd = new scala.util.Random(31)
    // dyadic coordinates: exact as floats, sums reproducible
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(256) - 128) / 128.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.randomProject(df, col("embedding"), 64, 16)
      .select(col("vec_id"), col("proj")).as[(Long, Seq[Double])].collect().toMap
    assert(out.values.forall(_.length == 16))
    // determinism: second run bit-identical
    val again = graft.operators.Similarity.randomProject(df, col("embedding"), 64, 16)
      .select(col("vec_id"), col("proj")).as[(Long, Seq[Double])].collect().toMap
    assert(again == out)
    // JL property (statistical, generous ε): projected squared
    // distances track true squared distances within 3x either way
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vecs.map(_._1)
    val checks = for {
      a <- ids.take(10); b <- ids.take(10) if a < b
      ta = vecs(a.toInt)._2.map(_.toDouble).toSeq
      tb = vecs(b.toInt)._2.map(_.toDouble).toSeq
      if d2(ta, tb) > 0
    } yield d2(out(a), out(b)) / d2(ta, tb)
    assert(checks.nonEmpty && checks.forall(r => r > 1.0 / 3 && r < 3.0),
      s"ratios out of band: ${checks.filterNot(r => r > 1.0 / 3 && r < 3.0)}")
    // hand-check one coordinate: proj_0 = Σ ±v_i / sqrt(16)
    val signs = graft.operators.Similarity.jlSigns(64, 16, "graft")
    val v = vecs.head._2
    var acc = 0.0
    for (i <- 0 until 64) acc += v(i).toDouble * signs(0)(i).toDouble
    assert(out(0L).head == acc / math.sqrt(16.0))
  }

  test("standardize: per-dim mean 0 / var 1, constant dims map to 0, ragged input rejected") {
    import org.apache.spark.sql.functions.col
    // dim 0 varies, dim 1 is CONSTANT (σ=0), dim 2 varies
    val df = Seq(
      (1L, Array(1.0f, 5.0f, 10.0f)),
      (2L, Array(3.0f, 5.0f, 20.0f)),
      (3L, Array(5.0f, 5.0f, 60.0f))).toDF("vec_id", "embedding")
    val z = graft.operators.Similarity.standardize(df, col("embedding"), 3)
      .select(col("vec_id"), col("z")).as[(Long, Seq[Double])].collect().toMap
    // hand-check dim 0: μ=3, σ_pop=sqrt(8/3)
    val sd0 = math.sqrt(8.0 / 3.0)
    assert(math.abs(z(1L)(0) - (1.0 - 3.0) / sd0) < 1e-12)
    assert(math.abs(z(3L)(0) - (5.0 - 3.0) / sd0) < 1e-12)
    // constant dim standardizes to 0, not NaN
    assert(z.values.forall(_(1) == 0.0))
    // post-standardization stats: mean ~0, var_pop ~1 on varying dims
    for (d <- Seq(0, 2)) {
      val xs = z.values.map(_(d)).toSeq
      val m = xs.sum / xs.size
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.size
      assert(math.abs(m) < 1e-12 && math.abs(v - 1.0) < 1e-9)
    }
    // ragged vectors (wrong dim count) must be rejected loudly
    val ragged = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.standardize(ragged, col("embedding"), 3)
    }
  }

  test("SparkEntry.entry returns rows (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("hardNegatives: same-label near-duplicates excluded, nearest other-label wins") {
    import org.apache.spark.sql.functions.col
    // query (1,0) label A; corpus: identical same-label twin (must be
    // skipped), a close other-label (cos ~0.995), a far other-label
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), "A"),
      (2L, Array(1.0f, 0.001f), "A"),   // twin — same label, excluded
      (3L, Array(0.9f, 0.1f), "B"),     // hard negative
      (4L, Array(0.0f, 1.0f), "B"),     // easy negative
      (5L, Array(0.5f, 0.5f), null.asInstanceOf[String]) // unlabeled: out
    ).toDF("id", "vec", "lab")
    val out = Similarity.hardNegatives(
        rows.where(col("id") === 1L), rows, "id", "vec", "lab", 2)
      .collect().map(r => (r.getInt(4), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(3L, 4L)) // hardness order
    assert(out.forall(_._3 == "B"))
  }

  test("knnClassify: majority vote with smallest-label ties, self excluded") {
    import org.apache.spark.sql.functions.col
    // query 1 (label A) at (1,0); neighbors within k=3: two A-ish, one B
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), "A"),
      (2L, Array(0.99f, 0.01f), "A"),
      (3L, Array(0.98f, 0.02f), "A"),
      (4L, Array(0.97f, 0.03f), "B"),
      (5L, Array(0.0f, 1.0f), "B")
    ).toDF("id", "vec", "lab")
    val r = Similarity.knnClassify(
        rows.where(col("id") === 1L), rows, "id", "vec", "lab", 3)
      .collect().head
    assert(r.getAs[String]("predicted_label") == "A" &&
      r.getAs[Long]("votes") == 2L && r.getAs[Boolean]("correct"))
    // 2-2 tie at k=4: smallest label wins deterministically
    val t4 = Similarity.knnClassify(
        rows.where(col("id") === 1L), rows, "id", "vec", "lab", 4)
      .collect().head
    assert(t4.getAs[String]("predicted_label") == "A") // tie -> "A" < "B"
  }

  test("VecDim.probe: empty/all-empty-vector input fails with an operator-named message") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.matryoshkaEval(empty, empty, "id", "vec",
        k = 1, Seq(1))
    }
    assert(e1.getMessage.contains("matryoshkaEval"))
    val allEmpty = Seq((1L, Array.empty[Float])).toDF("id", "vec")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.TrainingData.kcenterSelect(allEmpty, "id", "vec", k = 1)
    }
    assert(e2.getMessage.contains("kcenterSelect"))
    // and the probe skips empty vectors to find the realized dim
    val mixed = Seq((1L, Array.empty[Float]), (2L, Array(1f, 2f, 3f)))
      .toDF("id", "vec")
    assert(graft.core.VecDim.probe(mixed, "vec", "spec") == 3)
    // a frame whose only non-empty vectors carry NULL ids passes the
    // probe but empties the candidate frame — still an operator-named
    // failure, not a bare head() NoSuchElementException
    val nullIds = Seq((Option.empty[Long], Array(1f, 2f)))
      .toDF("id", "vec")
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.TrainingData.kcenterSelect(nullIds, "id", "vec", k = 1)
    }
    assert(e3.getMessage.contains("kcenterSelect"))
  }

  test("knnShapleyAnn law: nprobe = nlist reproduces exact knnShapley on random frames") {
    import org.apache.spark.sql.functions.col
    // the q_shapley_ann gate pins this on the testdata tables; this law
    // pins it on ARBITRARY seeded frames (every valid train vector sits
    // in exactly one probed cell, so the pair frame and per-test
    // horizon coincide) — including null ids/labels and a ragged vector
    val rnd = new scala.util.Random(
      sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong + 3)
    val dim = 4 + rnd.nextInt(5)
    val rows = ((1L to (40L + rnd.nextInt(40))).map { i =>
      (if (i % 17 == 0) None else Some(i),
        if (i % 23 == 0) Array.fill(dim - 1)(rnd.nextFloat())
        else Array.fill(dim)(rnd.nextFloat() * 2f - 1f),
        if (i % 19 == 0) None else Some(if (rnd.nextBoolean()) "A" else "B"))
    } ++ Seq( // DUPLICATE train ids (one exact dup, one same-id new vec):
      // the candidate join must not square them (one pair per row)
      (Some(11L), Array.fill(dim)(0.5f), Some("A")),
      (Some(11L), Array.fill(dim)(0.5f), Some("A")),
      (Some(13L), Array.fill(dim)(-0.25f), Some("B"))))
      .toDF("id", "vec", "lab")
    val (tr, te) = (rows.where(col("id") > 8 || col("id").isNull),
      rows.where(col("id") <= 8))
    for (nlist <- Seq(2, 4, 8)) {
      val kk = 1 + rnd.nextInt(4)
      val exact = Similarity.knnShapley(tr, te, "id", "vec", "lab", kk, 25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val ann = Similarity.knnShapleyAnn(tr, te, "id", "vec", "lab", kk, 25,
          nlist = nlist, nprobe = nlist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(exact.toSeq == ann.toSeq, s"nlist=$nlist")
    }
    // empty-after-filters train (only null ids survive the probe): the
    // exact twin returns an empty frame (empty cross product) — the ANN
    // twin must match that edge, not fail inside centroid training
    val trEmpty = rows.where(col("id").isNull)
    val teSome = rows.where(col("id") <= 8)
    val exactE = Similarity.knnShapley(trEmpty, teSome, "id", "vec", "lab", 2, 25)
    val annE = Similarity.knnShapleyAnn(trEmpty, teSome, "id", "vec", "lab", 2, 25,
      nlist = 4, nprobe = 4)
    assert(exactE.collect().isEmpty && annE.collect().isEmpty)
    assert(exactE.schema == annE.schema)
  }

  test("knnShapley: closed-form suffix recursion; wrong-label neighbor scores negative") {
    import org.apache.spark.sql.functions.col
    // test point at 0 (label A); train a(0.1, A), b(0.2, B), c(0.3, A).
    // K=2, N=3: s_3 = 10⁶ div 3 = 333333; s_2 = s_3 + (0−1)·(2·10⁶ div 4)
    // = −166667; s_1 = s_2 + (1−0)·(10⁶ div 2) = 333333.
    val train = Seq(
      (1L, Array(0.1f, 0.0f), "A"),
      (2L, Array(0.2f, 0.0f), "B"),
      (3L, Array(0.3f, 0.0f), "A")).toDF("id", "vec", "lab")
    val test = Seq((100L, Array(0.0f, 0.0f), "A")).toDF("id", "vec", "lab")
    val out = Similarity.knnShapley(train, test, "id", "vec", "lab", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 333333L), (3L, 1L, 333333L),
      (2L, 1L, -166667L)))
    // two test points double every value (both identical): exact sums
    val test2 = Seq(
      (100L, Array(0.0f, 0.0f), "A"),
      (101L, Array(0.0f, 0.0f), "A")).toDF("id", "vec", "lab")
    val o2 = Similarity.knnShapley(train, test2, "id", "vec", "lab", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(o2 == Seq((1L, 2L, 666666L), (3L, 2L, 666666L),
      (2L, 2L, -333334L)))
  }
}
