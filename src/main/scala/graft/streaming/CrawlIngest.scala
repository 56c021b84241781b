package graft.streaming

import graft.core.{CacheRegistry, RunScope}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.UrlFunctions._
import graft.operators.Dedup
import graft.sources.Warc

/** The production streaming raw-crawl ingestion pipeline, packaged:
  *
  * {{{
  *   readStream(binaryFile over a landing dir)
  *     → Warc.warcRecords                  (narrow record split)
  *     → routeRecords                      (MIME routing: responses
  *                                          only; html → charset
  *                                          chain → html_text; image
  *                                          → bytes for the
  *                                          multimodal path; rest →
  *                                          counted rejects with
  *                                          reasons)
  *     → foreachBatch: route/drop counters → statsDir, image bytes →
  *       imageDir, and the html leg drops against the PARQUET standing index
  *       (url-exact + fingerprint-exact + MinHash-band near-dup via
  *       [[Dedup.dropAgainstIndex]]), append survivors to the corpus
  *       dir, append their index rows to the index dir.
  * }}}
  *
  * ALL dedup state lives in the two parquet directories — bounded by
  * the DISTINCT documents of the standing corpus, never by feed
  * length, and never in driver memory (the StreamingSpec harness
  * that proved batch-parity with a driver-side set was the prototype;
  * this is the composition a cluster actually runs). The standing
  * corpus is never rescanned: each batch anti-joins the index on
  * short keys (url, fingerprint, band/bucket) exactly like
  * [[Dedup.dropAgainstIndex]]'s day-2 contract.
  *
  * Restart safety: outputs are partitioned by `batch_id` and written
  * with DYNAMIC partition overwrite, so a replayed micro-batch
  * rewrites its own partitions instead of appending twice — and the
  * dedup joins EXCLUDE the replayed batch's own index partition, so
  * a replay cannot drop its own rows as duplicates of themselves.
  *
  * Scale shape: everything before foreachBatch is a narrow map over
  * landing files; inside the batch the only shuffles are the
  * short-key anti-joins and the band explode of the batch's OWN
  * documents. At 100 TB the index dir is additionally partitionable
  * by band/bucket (see [[Dedup.buildDedupIndex]]).
  */
object CrawlIngest {

  /** binaryFile source schema (fixed by the format). */
  val binarySchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** MIME-routed record classification — a real crawl is ~10-20%
    * NON-html (images, pdf, json, plain text), and WARC files
    * interleave request/revisit/metadata records with responses, so
    * every record gets exactly one route with a drop REASON where it
    * leaves the pipeline (reject-to-NULL is never silent; the
    * per-batch counters in [[start]] aggregate these):
    *
    *  - `non_response` — WARC record type is not `response`
    *    (request/revisit/metadata carry no fetched representation);
    *  - `reject` — reason `bad_url` (target uri fails to
    *    canonicalize) or `undecodable_body` (an HTTP envelope whose
    *    body cannot be decoded here: Content-Encoding brotli, corrupt
    *    gzip, malformed chunked framing — the raw envelope must NOT
    *    fall through to the text path);
    *  - `html` — Content-Type text/html / application/xhtml+xml, or
    *    no envelope / no Content-Type header (bare payloads default
    *    to the html path); `body` carries the charset-chain-decoded
    *    visible text;
    *  - `text` — text/plain (a real crawl keeps it: READMEs, code,
    *    plaintext mirrors); `body` is the charset-chain-decoded
    *    content VERBATIM — no tag stripping;
    *  - `image` — `image/...` Content-Type; `image` carries the decoded
    *    body BYTES for the multimodal path
    *    ([[graft.operators.Multimodal.decodeImageStats]] sniffs the
    *    actual container from magic bytes downstream — the header is
    *    routing advice, never trusted as the format);
    *  - `other` — any remaining MIME (counted, reason
    *    `unrouted_mime`; the mime column says what a 100-TB run is
    *    dropping).
    *
    * Pure column kernels (codegen), narrow — one projection over the
    * record frame, no shuffle. Output: (path, record_idx, url, mime,
    * route, reason, body, image).
    */
  def routeRecords(records: DataFrame): DataFrame = {
    val payload = col("payload")
    val status = httpStatus(payload)
    val ct = httpHeader(payload, lit("content-type"))
    val mime = lower(trim(substring_index(ct, ";", 1)))
    // a payload that is not an HTTP message decodes as-is (bare html);
    // an HTTP message whose BODY is undecodable rejects — "not an HTTP
    // message" is exactly http_status = NULL
    val bodyBin = coalesce(httpBody(payload), when(status.isNull, payload))
    val htmlMime = mime.isNull ||
      mime.isin("text/html", "application/xhtml+xml")
    val staged = records.select(
      col("path"), col("record_idx"),
      urlNormalize(col("target_uri")).as("url"),
      mime.as("mime"),
      bodyBin.as("_bin"),
      coalesce(charsetParam(ct), sniffCharset(bodyBin), lit("utf-8")).as("_cs"),
      when(col("warc_type").isNotNull && col("warc_type") =!= "response",
        lit("non_response"))
        .when(urlNormalize(col("target_uri")).isNull, lit("bad_url"))
        .when(bodyBin.isNull, lit("undecodable_body"))
        .when(!(htmlMime || mime === "text/plain" ||
          mime.startsWith("image/")), lit("unrouted_mime"))
        .as("reason"))
    val stagedHtml = col("mime").isNull ||
      col("mime").isin("text/html", "application/xhtml+xml")
    val route = when(col("reason") === "non_response", lit("non_response"))
      .when(col("reason").isin("bad_url", "undecodable_body"), lit("reject"))
      .when(col("reason") === "unrouted_mime", lit("other"))
      .when(stagedHtml, lit("html"))
      .when(col("mime") === "text/plain", lit("text"))
      .otherwise(lit("image"))
    // the charset decode runs ONCE per text-bearing record, in its own
    // projection — html records feed BOTH htmlText (body) and htmlLinks
    // off the same decoded string, and CSE across when-branches is not
    // guaranteed, so a multi-MB payload would otherwise pay the decode
    // twice (the projections don't re-collapse: CollapseProject keeps
    // non-cheap expressions referenced more than once staged)
    val withTxt = staged.withColumn("_txt",
      when(route === "html" || route === "text",
        decodeText(col("_bin"), col("_cs"))))
    withTxt.select(
      col("path"), col("record_idx"), col("url"), col("mime"),
      route.as("route"), col("reason"),
      // html strips tags to visible text; text/plain (a real crawl
      // keeps it — READMEs, robots, code, plaintext mirrors) decodes
      // through the same charset chain VERBATIM, no tag stripping
      when(route === "html", htmlText(col("_txt")))
        .when(route === "text", col("_txt"))
        .as("body"),
      // anchor hrefs off the RAW decoded html (html_text has already
      // stripped the tags) — the crawl-frontier leg resolves these
      when(route === "html", htmlLinks(col("_txt"))).as("links"),
      when(route === "image", col("_bin")).as("image"))
  }

  /** Canonicalized documents of a WARC record frame — the html+text
    * legs of [[routeRecords]], the shared record→document transform of
    * the streaming pipeline and its batch twin: response records only,
    * envelope split with bare-payload fallback, charset chain, visible
    * text (html) or verbatim content (text/plain), canonical url.
    * Emits (path, record_idx, url, body); routed and rejected rows
    * feed nothing downstream.
    */
  def recordsToDocs(records: DataFrame): DataFrame =
    routeRecords(records).where(col("route").isin("html", "text"))
      .select(col("path"), col("record_idx"), col("url"), col("body"))

  /** One micro-batch against the standing parquet index; exposed for
    * the spec's determinism/idempotency assertions. See the object
    * scaladoc for the contract.
    */
  private[streaming] def ingestBatch(batch: DataFrame, batchId: Long,
      corpusDir: String, indexDir: String, shingleSize: Int,
      numHashes: Int, bands: Int): Unit = {
    val spark = batch.sparkSession
    // batch-internal url dedup: FIRST occurrence in (path, record_idx)
    // order — deterministic because that pair is unique per record
    val w = Window.partitionBy(col("url"))
      .orderBy(col("path"), col("record_idx"))
    val urlFirsts = batch.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
    // batch-internal NEAR-dup guard: among url-unique rows, the first
    // occurrence per exact content fingerprint wins — without this,
    // two same-batch documents with identical text at different urls
    // would BOTH enter the index, breaking the "bounded by DISTINCT
    // documents" contract. (Band-level intra-batch near-dups are
    // deliberately deferred to day-2: the next batch's index join
    // catches them, and verifying bands within the batch would cost a
    // second band shuffle per micro-batch.)
    val wFp = Window
      .partitionBy(graft.functions.TextFunctions.fingerprint(col("body")))
      .orderBy(col("path"), col("record_idx"))
    val firsts = urlFirsts.withColumn("_rn", row_number().over(wFp))
      .where(col("_rn") === 1).drop("_rn")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val standing: Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(indexDir)))
        // exclude THIS batch's own partition: on a replay the index
        // already carries batch N's rows, and deduping batch N against
        // them would drop every row of the replay (data loss on the
        // overwrite below)
        Some(spark.read.parquet(indexDir)
          .where(col("batch_id") =!= lit(batchId)))
      else None
    val survivors = standing match {
      case None => firsts
      case Some(idx) =>
        val notUrlDup = firsts.join(
          idx.select(col("id").as("url")).distinct(), Seq("url"), "left_anti")
        Dedup.dropAgainstIndex(notUrlDup, idx, "url", "body",
          shingleSize, numHashes, bands)
    }
    // one materialization feeds both writes (recomputing the plan
    // twice would re-read the index and re-shuffle the anti-joins)
    val surv = CacheRegistry.checkpoint(survivors)
    // an all-duplicate (or all-unparseable) micro-batch writes NOTHING:
    // a zero-row partitioned write would create the corpus/index dirs
    // with only _SUCCESS, and the NEXT batch's schema inference over
    // the empty index dir would throw and kill the streaming query
    if (surv.isEmpty) return
    val dynamic = Map("partitionOverwriteMode" -> "dynamic")
    surv.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").options(dynamic)
      .partitionBy("batch_id").parquet(corpusDir)
    Dedup.buildDedupIndex(surv, "url", "body", shingleSize, numHashes, bands)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").options(dynamic)
      .partitionBy("batch_id").parquet(indexDir)
  }

  /** One micro-batch of the streaming crawl FRONTIER — the q_frontier
    * composition folded into the pipeline, sharing its kernels
    * (url_resolve → url_normalize → robots_allowed → url dedup →
    * per-host politeness cap):
    *
    *  - anchors of the batch's surviving html documents resolve
    *    against their page url and canonicalize;
    *  - `robots` ((host, robots_txt), broadcast — one row per host,
    *    the natural bound of robots state) filters disallowed paths
    *    for `agent`; a host with NO robots row is allowed (the RFC
    *    9309 no-robots.txt default);
    *  - urls already in the standing frontier parquet (any earlier
    *    batch — the replayed batch's own partition excluded, same
    *    contract as [[ingestBatch]]) drop via a short-key anti-join;
    *  - at most `perHostCap` NEW urls per host per batch (politeness
    *    is per fetch round) in deterministic url order.
    *
    * State lives in `frontierDir` parquet (host, url, n_refs, rank,
    * batch_id) — bounded by DISTINCT discovered urls, never feed
    * length, never driver memory.
    */
  private[streaming] def frontierBatch(routed: DataFrame, batchId: Long,
      frontierDir: String, robots: DataFrame, agent: String,
      perHostCap: Int): Unit = {
    val spark = routed.sparkSession
    val cand = routed.where(col("route") === "html")
      .select(col("url"), explode(col("links")).as("_href"))
      .select(urlNormalize(urlResolve(col("url"), col("_href"))).as("url"))
      .where(col("url").isNotNull)
      .withColumn("host", urlHost(col("url")))
    val allowed = cand
      .join(broadcast(robots.select(col("host"), col("robots_txt"))),
        Seq("host"), "left")
      .where(col("robots_txt").isNull ||
        robotsAllowed(col("robots_txt"), lit(agent),
          expr("parse_url(url, 'PATH')")))
      .groupBy(col("host"), col("url"))
      .agg(count(lit(1)).as("n_refs"))
    val fs = new org.apache.hadoop.fs.Path(frontierDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(new org.apache.hadoop.fs.Path(frontierDir)))
        allowed.join(
          spark.read.parquet(frontierDir)
            .where(col("batch_id") =!= lit(batchId))
            .select(col("url")).distinct(),
          Seq("url"), "left_anti")
      else allowed
    // eager localCheckpoint BEFORE the isEmpty probe and the write —
    // the ingestBatch discipline (line ~205): without it the full
    // candidate→robots→anti-join→cap plan executes twice (once for the
    // probe, again for the write), and the write would overwrite
    // frontierDir while the same plan still reads it (the standing-
    // frontier anti-join) with only batch_id pruning as protection.
    val capped = graft.operators.TrainingData.capPerGroup(
      fresh, Seq(col("host")), Seq(col("url")), perHostCap)
      .transform(CacheRegistry.checkpoint(_))
    if (!capped.isEmpty)
      capped.select(col("host"), col("url"), col("n_refs"), col("rank"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .options(Map("partitionOverwriteMode" -> "dynamic"))
        .partitionBy("batch_id").parquet(frontierDir)
  }

  /** Per-batch route/drop counters → `statsDir` (parquet, partitioned
    * by batch_id, dynamic overwrite = replay-idempotent like the other
    * outputs): one row per (route, reason, mime) with its count. This
    * is the observability contract — at 100 TB "the crawl NULLed out"
    * must be a number on a dashboard, never a silent filter.
    */
  private[streaming] def writeRouteStats(routed: DataFrame, batchId: Long,
      statsDir: String): Unit = {
    val stats = routed.groupBy(col("route"), col("reason"), col("mime"))
      .agg(count(lit(1)).as("n"))
    if (!stats.isEmpty)
      stats.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .options(Map("partitionOverwriteMode" -> "dynamic"))
        .partitionBy("batch_id").parquet(statsDir)
  }

  /** Start the pipeline: returns the running query (callers own its
    * lifecycle). `corpusDir` accumulates surviving html documents
    * (path, record_idx, url, body, batch_id); `indexDir` accumulates
    * their [[Dedup.buildDedupIndex]] rows. Optional sinks:
    * `statsDir` gets the per-batch [[writeRouteStats]] counters;
    * `imageDir` gets the `image` route's decoded payload bytes
    * (path, record_idx, url, mime, image, batch_id) for the
    * multimodal path. Everything before foreachBatch stays narrow;
    * the routed frame is checkpointed ONCE per batch so the extra
    * sinks never re-read the landing files.
    */
  def start(spark: SparkSession, landingDir: String, corpusDir: String,
      indexDir: String, checkpointDir: String, glob: String = "*.warc",
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      statsDir: String = null, imageDir: String = null,
      frontierDir: String = null, robots: DataFrame = null,
      agent: String = "graftbot", perHostCap: Int = 20): StreamingQuery = {
    val stream = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob).schema(binarySchema)
      .load(landingDir)
    val routed = routeRecords(Warc.warcRecords(stream, "path", "content"))
    val dynamic = Map("partitionOverwriteMode" -> "dynamic")
    val writer = routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch's checkpoints are released when it ends: the
        // query's own scope is not drained while the query runs
        RunScope.scoped {
          try {
            // one materialization feeds stats + images + frontier + the
            // dedup leg (foreachBatch re-executes the source plan per
            // action otherwise — one read of every landing file per sink)
            val b = if (statsDir != null || imageDir != null || frontierDir != null)
              CacheRegistry.checkpoint(batch) else batch
            if (statsDir != null) writeRouteStats(b, batchId, statsDir)
            if (frontierDir != null)
              frontierBatch(b, batchId, frontierDir,
                if (robots != null) robots
                else spark.emptyDataFrame
                  .withColumn("host", lit(null).cast("string"))
                  .withColumn("robots_txt", lit(null).cast("string")),
                agent, perHostCap)
            if (imageDir != null) {
              val images = b.where(col("route") === "image")
                .select(col("path"), col("record_idx"), col("url"),
                  col("mime"), col("image"))
              if (!images.isEmpty)
                images.withColumn("batch_id", lit(batchId))
                  .write.mode("overwrite").options(dynamic)
                  .partitionBy("batch_id").parquet(imageDir)
            }
            ingestBatch(
              b.where(col("route").isin("html", "text"))
                .select(col("path"), col("record_idx"), col("url"), col("body")),
              batchId, corpusDir, indexDir, shingleSize, numHashes, bands)
          } finally CacheRegistry.unpersistAll()
        }
      }
    StreamSink.start(spark, writer)
  }
}
