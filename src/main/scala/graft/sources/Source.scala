package graft.sources

import graft.Flow
import graft.core.{Component, FlowOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Adds a named stream to the flow from an origin. If the name already
  * exists the new stream is appended — `Stream.concat` semantics
  * (reference: lib/source.ex:100-113) — realized as a bag union.
  *
  * Batch origins read with `spark.read`; unbounded origins with
  * `spark.readStream` (see [[graft.streaming.StreamSource]]). Custom
  * origins (the reference's Source behaviour, lib/source.ex:31-33) are
  * any `SparkSession => DataFrame` thunk.
  */
final case class Source(name: String, origin: SparkSession => DataFrame) extends Component {
  def apply(flow: Flow): Flow =
    FlowOps.merge(flow, name, origin(SparkSession.active))
}

object Source {
  /** In-memory sequence origin — the test workhorse (`Source.new(:s, [1,2,3])`). */
  def memory[T: org.apache.spark.sql.Encoder](name: String, data: Seq[T]): Source =
    Source(name, spark => spark.createDataset(data).toDF())

  /** Columnar parquet scan. Filters/projections above this source are
    * pushed into the scan by Catalyst (verify via `PushedFilters` in
    * `.explain("formatted")`) — at 100 TB this is the difference between
    * reading a column slice and reading everything.
    *
    * Opens through the parquet schema catalog ([[ParquetTables]]): a
    * plain file's schema is inferred once per JVM and reused while its
    * qualified path, length and modification time (and the session's
    * inference settings) stay the same; an equal path, length and
    * modification time over rewritten bytes reads a stale schema.
    * Directories and globs infer on every open, as `spark.read.parquet`.
    */
  def parquet(name: String, path: String): Source =
    Source(name, ParquetTables.open(_, path))

  def csv(name: String, path: String, schema: StructType, header: Boolean = false): Source =
    Source(name, _.read.schema(schema).option("header", header.toString).csv(path))

  def json(name: String, path: String, schema: StructType): Source =
    Source(name, _.read.schema(schema).json(path))

  def orc(name: String, path: String): Source =
    Source(name, _.read.orc(path))

  /** Raw media files as binary rows — Spark's `binaryFile` format: one
    * row per file with (path, modificationTime, length, content). The
    * ingestion mouth of the [[graft.operators.Multimodal]] family: the
    * `content` column is exactly the opaque payload its decode /
    * frame-feature stages consume ([[graft.operators.Multimodal
    * .decodeBmpStats]], `decodeWavStats`, `decodePartitioned`).
    * `pathGlob` prunes at the LISTING level (e.g. `*.bmp`) — files
    * outside the glob are never opened — and
    * `spark.sql.files.maxPartitionBytes` governs how many blobs pack
    * into one task, so scan parallelism holds at any corpus size.
    */
  def binaryFiles(name: String, path: String, pathGlob: String = "*"): Source =
    Source(name, _.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob).load(path))

  /** File → stream of trimmed lines (reference: lib/source/read_lines.ex:7-24).
    * Column name: `value` (Spark text convention); trailing whitespace trimmed
    * to match the reference's `String.trim_trailing`.
    */
  def readLines(name: String, path: String): Source =
    Source(name, _.read.text(path).select(rtrim(col("value")).as("value")))

  /** An existing DataFrame as an origin (raw-stream form). */
  def of(name: String, df: DataFrame): Source = Source(name, _ => df)

  /** Generic CUSTOM-ORIGIN source — direct parity with the reference's
    * Source behaviour contract `call(origin) -> {events, origin} |
    * {:halt, origin}` (lib/source.ex:31-33): a driver-side unfold over
    * caller state. `step` returns `Some((events, nextState))` to emit a
    * chunk and continue, `None` to halt; the chunks concatenate into
    * one Dataset.
    *
    * Driver-side BY DESIGN, like every reference Source behaviour (the
    * origin is a closure over driver state — a socket, a cursor, a
    * generator); the materialized chunk list must fit DRIVER MEMORY —
    * the real bound is ROWS, not iterations, so both backstops exist:
    * `maxChunks` catches a non-halting `step`, `maxRows` catches a
    * halting one whose chunks are huge (10M rows default ≈ driver-safe
    * for slim events; raise knowingly). For data already in
    * distributed storage use the parquet/csv/json scans — this is the
    * escape hatch for the long tail of custom origins, not the bulk
    * path.
    */
  def unfold[S, T: org.apache.spark.sql.Encoder](
      name: String,
      initial: S,
      step: S => Option[(Seq[T], S)],
      maxChunks: Int = 1000000,
      maxRows: Long = 10000000L): Source =
    Source(name, { spark =>
      require(maxChunks > 0, s"Source.unfold: maxChunks must be > 0, got $maxChunks")
      require(maxRows > 0, s"Source.unfold: maxRows must be > 0, got $maxRows")
      val buf = scala.collection.mutable.ArrayBuffer.empty[T]
      var state = initial
      var halted = false
      var chunks = 0
      while (!halted && chunks < maxChunks) {
        step(state) match {
          case Some((events, next)) =>
            buf ++= events; state = next; chunks += 1
            if (buf.length > maxRows)
              throw new IllegalStateException(
                s"Source.unfold('$name'): materialized rows exceed maxRows=$maxRows " +
                  "— driver-side origins must fit driver memory; use a distributed scan")
          case None => halted = true
        }
      }
      if (!halted)
        throw new IllegalStateException(
          s"Source.unfold('$name'): step never halted within $maxChunks chunks")
      spark.createDataset(buf.toSeq).toDF()
    })

  /** Interactive line source (reference: lib/source/io_gets.ex:7-16):
    * prints `prompt`, reads lines until EOF, each trimmed line one
    * event. Driver-side and dev-only by design, like the reference
    * (the data must fit the driver — it came from a keyboard).
    * `in` defaults to stdin; injectable for tests.
    */
  def ioGets(
      name: String,
      prompt: String = "> ",
      in: java.io.InputStream = System.in,
      out: java.io.PrintStream = System.out): Source =
    Source(name, { spark =>
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in))
      val lines = Iterator.continually { out.print(prompt); out.flush(); reader.readLine() }
        .takeWhile(_ != null).map(_.trim).toSeq
      import spark.implicits._
      spark.createDataset(lines).toDF()
    })
}
