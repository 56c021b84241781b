package graft

import graft.core.{Composite, Renamer, RunScope}
import graft.operators.{Loop, Mixer, Splitter, Transformer}
import graft.sinks.Sink
import graft.sources.Source
import org.apache.spark.sql.functions._

/** The doctest layer: the reference embeds a runnable example in every
  * component's `@moduledoc` (e.g. lib/transformer.ex, lib/mixer.ex,
  * lib/splitter.ex doctests) so its documentation can never rot. Scala
  * has no compiled doc-examples without extra tooling, so this spec IS
  * that layer — each test is the canonical, copy-pasteable usage block
  * for one component family, kept deliberately minimal. If an API
  * change breaks a snippet here, the documentation broke.
  */
class DocExamplesSpec extends SparkSpec {
  import spark.implicits._

  test("doc: source → transformer → sink (the words-count front door)") {
    val counted = scala.collection.mutable.Map.empty[String, Long]
    val pipeline = Composite(
      Source.memory("docs", Seq("the quick fox", "the lazy dog")),
      Transformer("docs")(df =>
        df.select(explode(split(col("value"), " ")).as("word"))
          .groupBy("word").count()),
      Sink("docs", df => df.collect().foreach(r =>
        counted(r.getString(0)) = r.getLong(1)), sync = true))
    pipeline(EmptyFlow)
    assert(counted("the") == 2 && counted("fox") == 1)
  }

  test("doc: mixer unions named streams, splitter fans one out by predicates") {
    val flow: Flow = Map(
      "evens" -> Seq(2, 4).toDF("v"),
      "odds" -> Seq(1, 3).toDF("v"))
    val mixed = Mixer(Seq("evens", "odds"), "all")(flow)
    val split = Splitter.predicates("all",
      Seq("small" -> (col("v") <= 2), "big" -> (col("v") > 2)))(mixed)
    assert(split("small").as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(split("big").as[Int].collect().sorted.toSeq == Seq(3, 4))
  }

  test("doc: renamer moves a stream to a new name; collisions concatenate") {
    val flow: Flow = Map("a" -> Seq(1).toDF("v"), "b" -> Seq(2).toDF("v"))
    val out = Renamer(Map("a" -> "b"))(flow)
    assert(out.keySet == Set("b"))
    assert(out("b").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("doc: ordered stateful transformer with end-of-stream flush (running sum)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("running LONG")
    val running = Transformer.stateful[Long](
      "xs", orderBy = Seq(col("v")), outputSchema = schema,
      init = 0L,
      finish = total => Seq(org.apache.spark.sql.Row(-total))) { (row, acc) =>
      val next = acc + row.getInt(0)
      (Seq(org.apache.spark.sql.Row(next)), next)
    }
    val out = running(Map("xs" -> Seq(3, 1, 2).toDF("v")))
    // sorted fold: 1, 3, 6; the flush emits the negated grand total
    assert(out("xs").as[Long].collect().toSeq == Seq(1L, 3L, 6L, -6L))
  }

  test("doc: loop iterates a body to fixpoint, accumulating every frontier") {
    // doubles until > 8: frontiers 1 → 2 → 4 → 8 → (16 filtered out, empty)
    val grow = Loop("n",
      body = df => df.select((col("v") * 2).as("v")).where(col("v") <= 8),
      ephemeral = true)
    val out = grow(Map("n" -> Seq(1).toDF("v")))
    assert(out("n").as[Int].collect().sorted.toSeq == Seq(1, 2, 4, 8))
  }

  test("doc: a composite is a component — nest, manipulate, re-run") {
    val addOne = Transformer("s")(_.select((col("v") + 1).as("v")))
    val double = Transformer("s")(_.select((col("v") * 2).as("v")))
    val pipeline = Composite(addOne, Composite(double, addOne)) // flattens to 3
    assert(pipeline.components.length == 3)
    val patched = pipeline.replace(1, 2, double) // drop the trailing addOne
    assert(patched(Map("s" -> Seq(1).toDF("v")))("s").as[Int].head() == 4)
  }

  test("doc: raw-crawl ingestion — warc split → http envelope → charset decode → text + resolved links") {
    import graft.functions.UrlFunctions._
    import graft.sources.Warc
    // a real crawl record's payload is a FULL HTTP message (here
    // gzip-coded, iso-8859-1 body) — http_body/http_header split the
    // envelope before the charset chain runs
    val html = "<html><head><meta charset=\"utf-8\"></head>" + // meta LIES
      "<body><a href='../about'>about</a><p>Héllo crawl</p></body></html>"
    val payload = Warc.httpEncode(200, "text/html; charset=iso-8859-1",
      html.getBytes("ISO-8859-1"), "gzip")
    val blob = Warc.warcEncode(1, "http://www.Site.example:80/a/b/page.html",
      payload)
    val body = httpBody(col("payload"))
    val out = Warc.warcRecords(Seq((1L, blob)).toDF("id", "warc"), "id", "warc")
      .select(col("target_uri"),
        httpStatus(col("payload")).as("status"),
        htmlText(decodeText(body,
          coalesce(charsetParam(httpHeader(col("payload"), lit("content-type"))),
            sniffCharset(body), lit("utf-8")))).as("text"),
        explode(htmlLinks(decodeText(body, lit("iso-8859-1")))).as("href"))
      .select(
        urlNormalize(col("target_uri")).as("page"),
        col("status"), col("text"),
        urlNormalize(urlResolve(col("target_uri"), col("href"))).as("link"))
      .head()
    assert(out.getString(0) == "http://site.example/a/b/page.html")
    assert(out.getInt(1) == 200)
    assert(out.getString(2) == "about Héllo crawl")
    assert(out.getString(3) == "http://site.example/a/about")
  }

  test("doc: scoped run — drain releases only this run's caches") {
    RunScope.scoped {
      val cached = graft.core.CacheRegistry.persist(Seq(1).toDF("v"))
      cached.count()
      Sink.drain() // awaits this run's async sinks, frees this run's caches
      assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    }
  }
}
