package graft.sources

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The parquet schema catalog serves Spark's own inference: the same
  * schema for every test table, a fresh one for a rewritten file or a
  * changed inference setting, and the plain `spark.read.parquet` read
  * for a directory.
  */
class ParquetTablesSpec extends SparkSpec {
  import ParquetTablesSpec._

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // StructType equality compares every field's name, type, nullability
  // and metadata
  test("the catalog's schema equals Spark's inference for every sf0.001 table") {
    tables.foreach { name =>
      val path = s"$sfDir/$name.parquet"
      ParquetTables.open(spark, path) // the first open may infer
      val warm = ParquetTables.open(spark, path).schema
      val inferred = spark.read.parquet(path).schema
      assert(warm == inferred, name)
    }
  }

  test("a file rewritten at its path with a new schema is re-inferred") {
    val dir = Files.createTempDirectory("graft_tables_")
    val path = dir.resolve("t.parquet")
    import spark.implicits._
    writeFile(Seq(1L, 2L, 3L).toDF("id"), path)
    assert(ParquetTables.open(spark, path.toString).schema.fieldNames.toSeq == Seq("id"))
    assert(ParquetTables.open(spark, path.toString).schema.fieldNames.toSeq == Seq("id"))
    val next = Seq(("a", 1.5), ("b", 2.5)).toDF("key", "score")
    writeFile(next, path)
    val reopened = ParquetTables.open(spark, path.toString)
    assert(reopened.schema == spark.read.parquet(path.toString).schema)
    assert(reopened.schema.fieldNames.toSeq == Seq("key", "score"))
    assert(reopened.orderBy("key").collect().toSeq == Seq(Row("a", 1.5), Row("b", 2.5)))
  }

  test("a TIMESTAMP(NANOS) file gets each nanosAsLong setting's own type") {
    val dir = Files.createTempDirectory("graft_tables_")
    val path = dir.resolve("events.parquet").toString
    writeNanosEvents(spark, path, Seq(1L -> 1700000000123456L))
    // Spark's own read under each setting is the reference: a type, or
    // the same failure
    def read(open: => DataFrame): Either[String, StructType] =
      try Right(open.schema)
      catch { case e: Exception => Left(e.getClass.getName) }
    Seq("true", "false", "true").foreach { v =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
        val expected = read(spark.read.parquet(path))
        assert(read(ParquetTables.open(spark, path)) == expected, s"nanosAsLong=$v")
        assert(read(ParquetTables.open(spark, path)) == expected, s"nanosAsLong=$v")
        if (v == "true") assert(expected.map(_("ts").dataType) == Right(LongType))
      }
    }
  }

  test("t() reads both events.ts generations as TimestampType with equal epoch micros") {
    val micros = Seq(1L -> 1700000000123456L, 2L -> 1700000100000001L, 3L -> 0L)
    val nanosDir = Files.createTempDirectory("graft_events_nanos_")
    writeNanosEvents(spark, nanosDir.resolve("events.parquet").toString, micros)
    val ntzDir = Files.createTempDirectory("graft_events_ntz_")
    import spark.implicits._
    writeFile(micros.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")),
      ntzDir.resolve("events.parquet"))
    Seq(nanosDir, ntzDir).foreach { dir =>
      val ev = SparkEntry.t(spark, dir.toString, "events")
      assert(ev.schema("ts").dataType == TimestampType, dir)
      val got = ev.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got == micros, dir)
    }
  }

  test("a directory path reads rows-identical to spark.read.parquet") {
    val dir = Files.createTempDirectory("graft_tables_").resolve("d").toString
    spark.range(0, 40, 1, 4).select(col("id"), (col("id") % 7).as("m"))
      .write.parquet(dir)
    val viaCatalog = ParquetTables.open(spark, dir)
    val direct = spark.read.parquet(dir)
    assert(viaCatalog.schema == direct.schema)
    assert(viaCatalog.orderBy("id").collect().toSeq == direct.orderBy("id").collect().toSeq)
  }
}

object ParquetTablesSpec {

  /** Writes `df` as one plain parquet file at `path`, replacing it. */
  def writeFile(df: DataFrame, path: JPath): Unit = {
    val staging = Files.createTempDirectory("graft_stage_").resolve("out")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging)
    val file = try part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally part.close()
    Files.move(file, path, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Writes `(event_id, ts)` rows with `ts` as INT64 TIMESTAMP(NANOS), the
    * older testdata generation of `events.ts`, from epoch micros.
    */
  def writeNanosEvents(spark: SparkSession, path: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", us * 1000L))
    } finally writer.close()
  }
}
