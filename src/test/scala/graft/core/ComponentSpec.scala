package graft.core

import graft.{EmptyFlow, Flow, SparkSpec}
import graft.operators.{Mixer, Splitter, Transformer}
import graft.sources.Source
import org.apache.spark.sql.functions._

/** Flow/Composite semantics from the reference:
  * collision-union (lib/gen_mix/streams.ex:18-23), source concat
  * (lib/source.ex:100-113), composite flattening (lib/composite.ex:40-52),
  * renamer failure on missing names (lib/renamer.ex:16-33).
  */
class ComponentSpec extends SparkSpec {
  import spark.implicits._

  test("source adds a named stream; same-name source concatenates") {
    val f1 = Source.memory("s", Seq(1, 2, 3)).apply(EmptyFlow)
    assert(f1("s").count() == 3)
    val f2 = Source.memory("s", Seq(4, 5)).apply(f1)
    assert(f2("s").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("unfold source: step-until-halt lifecycle, state threads, concat rule applies") {
    // reference Source behaviour contract call(origin) ->
    // {events, origin} | {:halt, origin} (lib/source.ex:31-33):
    // counter origin emits [s, s+1] chunks and halts past 4
    def step(s: Int): Option[(Seq[Int], Int)] =
      if (s > 4) None else Some((Seq(s, s + 1), s + 2))
    // step(1) -> [1,2] @3, step(3) -> [3,4] @5, step(5) halts
    val f1 = Source.unfold("u", 1, step).apply(EmptyFlow)
    assert(f1("u").as[Int].collect().toSeq == Seq(1, 2, 3, 4))
    // landing on an existing name concatenates, like every source
    val f2 = Source.unfold("u", 100, step).apply(f1)
    assert(f2("u").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4)) // state 100 halts immediately: no new rows
    val f3 = Source.unfold("u", 3, step).apply(f2)
    assert(f3("u").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 3, 4, 4))
    // a never-halting step fails loudly at the chunk backstop
    val e = intercept[IllegalStateException](
      Source.unfold[Int, Int]("runaway", 0,
        s => Some((Seq(s), s)), maxChunks = 10).apply(EmptyFlow))
    assert(e.getMessage.contains("never halted"))
  }

  test("ioGets prompts and reads trimmed lines until EOF (reference io_gets source)") {
    val in = new java.io.ByteArrayInputStream("hello \nworld\n".getBytes)
    val outBuf = new java.io.ByteArrayOutputStream()
    val flow = Source.ioGets("kbd", "> ", in, new java.io.PrintStream(outBuf))(EmptyFlow)
    assert(flow("kbd").as[String].collect().toSeq == Seq("hello", "world"))
    assert(outBuf.toString.startsWith("> ")) // prompted at least once per read
  }

  test("mixer unions inputs and removes them from the flow") {
    val flow: Flow = Map(
      "a" -> Seq(1, 2).toDF("v"),
      "b" -> Seq(3).toDF("v"),
      "keep" -> Seq(9).toDF("v"))
    val out = Mixer(Seq("a", "b"), "m")(flow)
    assert(out.keySet == Set("m", "keep"))
    assert(out("m").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("mixer output landing on an existing name concatenates (collision rule)") {
    val flow: Flow = Map(
      "a" -> Seq(1).toDF("v"),
      "b" -> Seq(2).toDF("v"),
      "m" -> Seq(7).toDF("v"))
    val out = Mixer(Seq("a", "b"), "m")(flow)
    assert(out("m").as[Int].collect().sorted.toSeq == Seq(1, 2, 7))
  }

  test("mixer may re-emit one of its own input names") {
    val flow: Flow = Map("a" -> Seq(1).toDF("v"), "b" -> Seq(2).toDF("v"))
    val out = Mixer(Seq("a", "b"), "a")(flow)
    assert(out.keySet == Set("a"))
    assert(out("a").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("splitter duplicate mode reuses the stream; predicate mode partitions independently") {
    val flow: Flow = Map("in" -> Seq(1, 2, 3, 4).toDF("v"))
    val dup = Splitter("in", Seq("x", "y"))(flow)
    assert(dup("x").count() == 4 && dup("y").count() == 4)

    val pred = Splitter.predicates(
      "in",
      Seq("even" -> (col("v") % 2 === 0), "big" -> (col("v") >= 2)))(flow)
    assert(pred("even").as[Int].collect().sorted.toSeq == Seq(2, 4))
    assert(pred("big").as[Int].collect().sorted.toSeq == Seq(2, 3, 4)) // overlap allowed
  }

  test("composite flattens nested composites and folds left-to-right") {
    val inner = Composite(Seq(
      Transformer("s")(df => df.withColumn("v", col("v") * 2))))
    val outer = Composite(Seq(
      Source.of("s", Seq(1, 2).toDF("v")),
      inner,
      Transformer("s")(df => df.withColumn("v", col("v") + 1))))
    assert(outer.components.length == 3) // flattened
    val out = outer(EmptyFlow)
    assert(out("s").select("v").as[Int].collect().sorted.toSeq == Seq(3, 5))
  }

  test("composite insert/replace/delete rebuild the component list") {
    val a = Transformer("s")(identity)
    val b = Transformer("s")(df => df.withColumn("v", col("v") + 1))
    val c = Composite(Seq(a))
    assert(c.insert(1, b).components.length == 2)
    assert(c.replace(0, 0, b).components == Seq(b))
    assert(c.delete(0, 0).components.isEmpty)
  }

  test("splitter output may reuse the input stream name across chained splits") {
    // reference: test/splitter_test.exs "when output stream has the same
    // name as one of the input streams": numbers → {numbers: even, odd},
    // then numbers → {numbers: >5, less} ⇒ numbers=[6,8,10], odd=[1,3,5,7,9],
    // less=[2,4].
    val flow: Flow = Map("numbers" -> (1 to 10).toDF("v"))
    val step1 = Splitter.predicates(
      "numbers", Seq("numbers" -> (col("v") % 2 === 0), "odd" -> (col("v") % 2 === 1)))(flow)
    val out = Splitter.predicates(
      "numbers", Seq("numbers" -> (col("v") > 5), "less" -> (col("v") <= 5)))(step1)
    assert(out("numbers").as[Int].collect().sorted.toSeq == Seq(6, 8, 10))
    assert(out("odd").as[Int].collect().sorted.toSeq == Seq(1, 3, 5, 7, 9))
    assert(out("less").as[Int].collect().sorted.toSeq == Seq(2, 4))
  }

  test("manipulation indices out of range fail loudly (reference indicies_not_in_range)") {
    // reference: test/composite/manipulations/delete_components_test.exs:36-55
    val c = Composite(Seq(Transformer("s")(identity), Transformer("s")(identity)))
    intercept[IllegalArgumentException](c.delete(-5, 10))
    intercept[IllegalArgumentException](c.delete(0, 2))
    intercept[IllegalArgumentException](c.delete(1, 0))
    intercept[IllegalArgumentException](c.delete(-1, -2))
    intercept[IllegalArgumentException](c.replace(0, 2, Transformer("s")(identity)))
    intercept[IllegalArgumentException](c.insert(3, Transformer("s")(identity)))
    intercept[IllegalArgumentException](c.insert(-1, Transformer("s")(identity)))
  }

  test("renamer carries a no_wait mark to the new stream name") {
    NoWait.mark("m1")
    Renamer(Map("m1" -> "m2"))(Map("m1" -> Seq(1).toDF("v")))
    assert(!NoWait.consume("m1")) // old mark gone
    assert(NoWait.consume("m2")) // policy travelled with the stream
  }

  test("renamer renames keys and fails fast on missing streams") {
    val flow: Flow = Map("a" -> Seq(1).toDF("v"))
    assert(Renamer(Map("a" -> "b"))(flow).keySet == Set("b"))
    intercept[IllegalArgumentException](Renamer(Map("zzz" -> "y"))(flow))
  }

  test("topology draws the stream graph of the words-count pipeline") {
    // reference: lib/composite/topology.ex:9-33 — streams as vertical
    // tracks, one glyph row per component, splitter fan-out spreading
    // from the glyph. edgeList keeps the compact in/out summary.
    val pipeline = Composite(Seq(
      Source.of("docs", Seq("a b").toDF("text")),
      Transformer("docs")(df => df.select(explode(split(col("text"), " ")).as("word"))),
      Splitter.predicates("docs", Seq("short" -> (length(col("word")) <= 3), "long" -> (length(col("word")) > 3))),
      Mixer(Seq("short", "long"), "merged"),
      graft.sinks.Sink("merged", _.count(): Unit)))
    val drawn = pipeline.topology
    assert(drawn ==
      """|
         |
         |▼  Source (0)
         |docs
         |❚
         |⏺  Transformer (1)
         |docs
         |❚
         |Λ .  Splitter (2)
         |short long
         |❚ ❚
         |  Y  Mixer (3)
         |merged
         |  ❚
         |  ▲  Sink (4)""".stripMargin)
    val edges = Topology.edgeList(pipeline).split("\n").toSeq
    assert(edges(0).contains("Source") && edges(0).contains("· ──▶ docs"))
    assert(edges(2).contains("Splitter") && edges(2).contains("docs ──▶ short, long"))
    assert(edges(4).contains("Sink") && edges(4).contains("merged ──▶ ·"))
  }

  test("topology draws the two-source parcels pipeline with a shared mix") {
    // orders + parcels mix into events; a splitter fans out the CEP
    // verdict streams; each verdict drains to its own sink.
    val orders = Seq((1, "order")).toDF("id", "kind")
    val parcels = Seq((1, "parcel")).toDF("id", "kind")
    val pipeline = Composite(Seq(
      Source.of("orders", orders),
      Source.of("parcels", parcels),
      Mixer(Seq("orders", "parcels"), "events"),
      Transformer("events")(identity),
      Splitter.predicates("events",
        Seq("in_time" -> (col("kind") === "parcel"), "late" -> (col("kind") =!= "parcel"))),
      graft.sinks.Sink("in_time", _.count(): Unit),
      graft.sinks.Sink("late", _.count(): Unit)))
    val drawn = pipeline.topology
    assert(drawn ==
      """|
         |
         |▼  Source (0)
         |orders
         ||
         || ▼  Source (1)
         |orders parcels
         |❚ ❚
         |  Y  Mixer (2)
         |events
         |  ❚
         |  ⏺  Transformer (3)
         |events
         |  ❚
         |. Λ  Splitter (4)
         |late in_time
         || ❚
         || ▲  Sink (5)
         |late
         |❚
         |▲  Sink (6)""".stripMargin)
  }

  test("transformer on many streams applies independently (per-stream acc rule)") {
    val flow: Flow = Map("a" -> Seq(1).toDF("v"), "b" -> Seq(10).toDF("v"))
    val out = Transformer.onEach(Seq("a", "b"))(df => df.withColumn("v", col("v") * 3))(flow)
    assert(out("a").as[Int].head() == 3 && out("b").as[Int].head() == 30)
  }

  test("Labeled components draw with their label (reference label: option) and delegate apply") {
    val p = Composite(Seq(
      Labeled("Source of stream1", Source.of("s", Seq(1).toDF("v"))),
      Labeled("Double it", Transformer("s")(df => df.select((col("v") * 2).as("v")))),
      graft.sinks.Sink("s", _ => ())))
    val d = p.topology
    assert(d.contains("Source of stream1 (0)") && d.contains("Double it (1)"))
    assert(d.contains("▼") && d.contains("⏺")) // glyphs come from the inner component
    // apply is a pure delegate
    val out = Labeled("x2", Transformer("s")(df => df.select((col("v") * 2).as("v"))))(
      Map("s" -> Seq(3).toDF("v")))
    assert(out("s").as[Int].head() == 6)
  }

  test("topology draw survives the reference draw-test matrix (trees, collisions, multi-source)") {
    // reference: test/composite/topology/draw_test.exs — these fixtures
    // assert nothing beyond "draw does not crash" on awkward graphs:
    // inputs declared before any producer, splitter mid-chain, two
    // mixers landing on the same output name, trees, parallel rails.
    val one = Seq(1).toDF("v")
    val ex1 = Composite(Seq(
      Source.of("stream1", one),
      Transformer("stream1")(identity),
      Splitter("stream1", Seq("stream4", "stream5")),
      Transformer("stream5")(identity),
      Transformer("stream2")(identity), // stream2 has no producer here
      Mixer(Seq("stream1", "stream2", "stream3"), "stream"),
      Transformer("stream4")(identity),
      Transformer("stream")(identity),
      graft.sinks.Sink("stream", _ => ()),
      graft.sinks.Sink("stream4", _ => ())))
    val d1 = ex1.topology
    assert(d1.contains("Λ") && d1.contains("Y") && d1.linesIterator.size > 20)
    val collide = Composite(Seq(
      Mixer(Seq("s1", "s2"), "stream"),
      Mixer(Seq("s3", "s4"), "stream"), // collision-union onto "stream"
      Transformer("stream")(identity)))
    assert(collide.topology.linesIterator.count(_.contains("Y")) == 2)
    val tree = Composite(Seq(
      graft.operators.MixerTree(Seq("s1", "s2", "s3", "s4", "s5", "s6", "s7"), "m", parts = 3),
      graft.operators.SplitterTree.copy("m", Seq("o1", "o2", "o3"))))
    val dt = tree.topology
    assert(dt.contains("Y") && dt.contains("Λ") && dt.contains("o3"))
    val rails = Composite(Seq(
      Source.of("s1", one), Source.of("s2", one), Source.of("s3", one),
      graft.sinks.Sink("s1", _ => ()), graft.sinks.Sink("s2", _ => ()),
      graft.sinks.Sink("s3", _ => ())))
    val dr = rails.topology
    assert(dr.linesIterator.count(_.contains("▼")) == 3)
    assert(dr.linesIterator.count(_.contains("▲")) == 3)
  }

  test("deep composite chains: 1000 stages complete under checkpointEvery, values exact") {
    // the reference's composition envelope chains 100k transformers
    // (test/experiments_test.exs:76-181, disabled there). Here the
    // limit is Catalyst: recursive plan analysis overflows the JVM
    // stack around ~1000 chained stages. checkpointEvery(n) truncates
    // lineage every n stages so analysis depth never exceeds n.
    val stage = Transformer("s")(df => df.withColumn("v", col("v") + 1))
    // moderate depth needs no hatch
    val plain = Composite(Seq.fill(300)(stage: Component))
    assert(plain(Map("s" -> Seq(1, 2, 3).toDF("v")))("s")
      .agg(sum("v")).head().getLong(0) == 6 + 3 * 300)
    // 1000 stages WITHOUT the hatch would StackOverflowError (measured
    // on this JVM's default stack); with it the chain is routine
    val deep = Composite(Seq.fill(1000)(stage: Component)).checkpointEvery(100)
    // exact-multiple chains must not checkpoint AFTER the last stage —
    // that would re-materialize every live stream once for nothing
    assert(!deep.components.last.isInstanceOf[LocalCheckpoint])
    assert(deep.components.count(_.isInstanceOf[LocalCheckpoint]) == 9)
    assert(deep(Map("s" -> Seq(1, 2, 3).toDF("v")))("s")
      .agg(sum("v")).head().getLong(0) == 6 + 3 * 1000)
  }

  test("two concurrent scoped flows with colliding names share no caches or no_wait marks") {
    import java.util.concurrent.CyclicBarrier
    import org.apache.spark.storage.StorageLevel
    // Both flows use stream name "s", persist a cache, mark "s" no_wait,
    // and drain at different times. Scoping must keep them apart:
    // flow A's drain may not release flow B's cache or see its mark.
    val barrier = new CyclicBarrier(2)
    @volatile var bCache: org.apache.spark.sql.DataFrame = null
    @volatile var bSawOwnMark = false
    @volatile var aSawForeignMark = true
    val a = new Thread(() => RunScope.scoped {
      val cached = CacheRegistry.persist(Seq(1, 2).toDF("v"))
      cached.count()
      barrier.await() // B has marked "s" in ITS scope by now
      aSawForeignMark = NoWait.consume("s") // must NOT see B's mark
      graft.sinks.Sink.drain()              // releases only A's cache
      barrier.await() // let B check its cache survived A's drain
    })
    val b = new Thread(() => RunScope.scoped {
      bCache = CacheRegistry.persist(Seq(3, 4).toDF("v"))
      bCache.count()
      NoWait.mark("s")
      barrier.await()
      barrier.await() // A drained; our cache must still be resident
      bSawOwnMark = NoWait.consume("s")
    })
    a.start(); b.start(); a.join(30000); b.join(30000)
    assert(!aSawForeignMark, "flow A consumed flow B's no_wait mark")
    assert(bSawOwnMark, "flow B lost its own no_wait mark")
    assert(bCache.storageLevel != StorageLevel.NONE,
      "flow A's drain released flow B's cache")
    bCache.unpersist()
  }

  test("CacheRegistry releases checkpoints, eager and lazy, with the persists") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def held = (sc.getPersistentRDDs.keySet -- before).size
    RunScope.scoped {
      val eager = CacheRegistry.checkpoint(Seq(1, 2, 3).toDF("v"))
      val deferred = CacheRegistry.checkpoint(Seq(4, 5).toDF("v"), eager = false)
      assert(deferred.count() == 2L)
      CacheRegistry.persist(Seq(6).toDF("v")).count()
      assert(held == 3)
      CacheRegistry.release(eager) // a superseded loop round
      assert(held == 2)
      CacheRegistry.release(eager) // already released: a no-op
      CacheRegistry.unpersistAll()
      assert(held == 0)
    }
  }

  test("Source.binaryFiles: on-disk media -> binary rows -> real decode round-trip") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.{col, element_at, reverse, split}
    spark.sparkContext // materialize the shared session so Source.apply
    // can resolve SparkSession.active when this test runs first/alone
    // real files on disk: two BMPs, one WAV, one stray text file that
    // the listing-level glob must prune before any task opens it
    val dir = java.nio.file.Files.createTempDirectory("binsrc")
    def put(n: String, bytes: Array[Byte]) =
      java.nio.file.Files.write(dir.resolve(n), bytes)
    put("a.bmp", Multimodal.bmpEncode(5, 3, 17))
    put("b.bmp", Multimodal.bmpEncode(2, 2, 200))
    put("c.wav", Multimodal.wavEncode(10, 100, 3))
    put("junk.txt", "not media".getBytes("UTF-8"))
    val bmps = Source.binaryFiles("imgs", dir.toString, "*.bmp")(EmptyFlow)("imgs")
      .select(element_at(reverse(split(col("path"), "/")), 1).as("f"),
        col("length"), col("content").as("payload"))
    val stats = Multimodal.decodeBmpStats(bmps, "payload")
      .select(col("f"), col("width"), col("height"), col("px_mean"), col("n_bytes"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    assert(stats == Map(
      "a.bmp" -> ((5, 3, 17L, (54 + 16 * 3).toLong)),
      "b.bmp" -> ((2, 2, 200L, (54 + 8 * 2).toLong))))
    val wavs = Source.binaryFiles("auds", dir.toString, "*.wav")(EmptyFlow)("auds")
      .select(col("content").as("payload"))
    val w = Multimodal.decodeWavStats(wavs, "payload")
      .select(col("n_samples"), col("peak"), col("nz_samples"), col("energy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(w.toSeq == Seq((10L, 100L, 6L, 60000L)))
    // binaryFile's length column matches the payload the decoders read
    assert(Source.binaryFiles("all", dir.toString)(EmptyFlow)("all").count() == 4)
  }
}
