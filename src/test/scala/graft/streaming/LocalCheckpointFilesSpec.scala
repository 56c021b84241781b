package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{EmptyFlow, SparkSpec}
import graft.core.Composite
import graft.operators.Transformer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A local filesystem under its own scheme: a path on it is not `file`. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "other"
  override def getUri: java.net.URI = java.net.URI.create("other:///")
}

class LocalCheckpointFilesSpec extends SparkSpec {
  import spark.implicits._

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val conf = new Configuration()

  private def tmpDir(): Path = new Path(Files.createTempDirectory("graft_lcf_").toUri)
  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  // every entry, hidden temp files included
  private def entries(dir: Path): Set[String] = new java.io.File(dir.toUri).list().toSet
  // Hadoop's checksumming local filesystem, which leaves a `.<name>.crc`
  // beside the file: how the pointers were written before the manager
  private def hadoopWrite(p: Path, text: String): Unit = {
    val out = FileSystem.getLocal(conf).create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def hadoopRead(p: Path): String = {
    val in = FileSystem.getLocal(conf).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic: the file is invisible until close") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    assert(fm.underlying.isInstanceOf[LocalCheckpointFiles.Nio] && fm.isLocal)
    val p = new Path(dir, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p))
    out.close()
    assert(read(fm, p) == "v1")
    assert(entries(dir) == Set("0"))
  }

  test("createAtomic: cancel leaves neither the file nor its temp") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // after cancel: a no-op, publishes nothing
    assert(entries(dir).isEmpty)
  }

  test("createAtomic without overwrite over an existing file: FileAlreadyExistsException, old bytes kept") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "v1", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "v2", overwrite = false))
    assert(read(fm, p) == "v1")
    assert(entries(dir) == Set("0"))
  }

  test("createAtomic with overwrite replaces the file") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "v1", overwrite = true)
    write(fm, p, "v2", overwrite = true)
    assert(read(fm, p) == "v2")
    assert(entries(dir) == Set("0"))
  }

  test("publish and delete remove the .crc Hadoop's filesystem left beside a file") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    val p = new Path(dir, "_latest")
    hadoopWrite(p, "old")
    assert(entries(dir) == Set("_latest", "._latest.crc"))
    write(fm, p, "new", overwrite = true)
    assert(entries(dir) == Set("_latest") && hadoopRead(p) == "new")
    hadoopWrite(p, "old")
    fm.delete(p)
    assert(entries(dir).isEmpty)
  }

  test("list with a filter returns no temp files") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    write(fm, new Path(dir, "0"), "a", overwrite = false)
    write(fm, new Path(dir, "1"), "b", overwrite = false)
    val pending = fm.createAtomic(new Path(dir, "2"), overwriteIfPossible = false)
    pending.write("c".getBytes(UTF_8))
    // the metadata logs' filter: batch files are named by their id
    val batchFiles: PathFilter = p => p.getName.forall(_.isDigit)
    assert(fm.list(dir, batchFiles).map(_.getPath.getName).toSet == Set("0", "1"))
    assert(entries(dir).size == 3) // the pending temp is there, hidden
    pending.close()
    assert(fm.list(dir, batchFiles).map(_.getPath.getName).toSet == Set("0", "1", "2"))
    assert(fm.list(dir).map(_.getPath.getName).toSet == Set("0", "1", "2"))
  }

  test("open of a missing file raises FileNotFoundException") {
    val dir = tmpDir()
    val fm = new LocalCheckpointFiles(dir, conf)
    intercept[java.io.FileNotFoundException](fm.open(new Path(dir, "missing")))
  }

  test("mkdirs, exists, delete and createCheckpointDirectory") {
    val dir = new Path(tmpDir(), "ck/state")
    val fm = new LocalCheckpointFiles(dir, conf)
    val made = fm.createCheckpointDirectory()
    assert(made.toUri.getScheme == "file" && fm.exists(dir))
    fm.mkdirs(new Path(dir, "0/1"))
    write(fm, new Path(dir, "0/1/1.delta"), "d", overwrite = false)
    fm.delete(new Path(dir, "0")) // recursive
    assert(!fm.exists(new Path(dir, "0")))
    fm.delete(new Path(dir, "0")) // a missing path is not an error
  }

  test("a non-file path gets Spark's default manager") {
    val c = new Configuration()
    c.setClass("fs.other.impl", classOf[OtherSchemeFileSystem], classOf[FileSystem])
    val local = new Path(Files.createTempDirectory("graft_lcf_other_").toUri)
    val other = new Path("other", null, local.toUri.getPath)
    val default = CheckpointFileManager.create(other, c)
    val fm = new LocalCheckpointFiles(other, c)
    assert(fm.underlying.getClass == default.getClass)
    // no FileContext for the scheme: Spark falls back to FileSystem
    assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    // a scheme-less path is qualified by the default filesystem
    c.set("fs.defaultFS", "other:///")
    assert(!new LocalCheckpointFiles(new Path(local.toUri.getPath), c)
      .underlying.isInstanceOf[LocalCheckpointFiles.Nio])
  }

  /** Run `body` with the session's manager key at `value`, then put
    * back what was there.
    */
  private def withManagerKey[T](value: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(ManagerKey)
    def set(v: Option[String]): Unit = v.fold(spark.conf.unset(ManagerKey))(spark.conf.set(ManagerKey, _))
    set(value)
    try body finally set(before)
  }

  /** The stacks (class names, innermost first) of the processes started
    * while `body` runs, from a JFR `jdk.ProcessStart` recording.
    */
  private def processStarts(body: => Unit): Seq[Seq[String]] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_lcf_", ".jfr")
    rec.dump(file)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.map(e =>
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
  }

  private def fromCheckpointManager(starts: Seq[Seq[String]]): Seq[Seq[String]] =
    starts.filter(_.exists(n => n.contains("CheckpointFileManager") || n.contains("LocalCheckpointFiles")))

  /** A 3-batch stateful query with a file checkpoint and a memory sink,
    * started through [[StreamSink]]; returns its final counts.
    */
  private def statefulRun(table: String): Seq[(Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_lcf_ckpt_").toString
    in.addData(1L, 2L, 3L)
    Composite(Seq(
      StreamSource.of("lcf", in.toDF()),
      Transformer("lcf")(_.groupBy((col("value") % 2).as("k")).count()),
      StreamSink("lcf", _.writeStream.format("memory").queryName(table)
        .outputMode("complete").option("checkpointLocation", ckpt))))(EmptyFlow)
    val q = StreamSink.active.find(_.name == table).get
    try {
      q.processAllAvailable()
      in.addData(4L, 5L); q.processAllAvailable()
      in.addData(6L); q.processAllAvailable()
      assert(q.lastProgress.batchId == 2L)
    } finally StreamSink.stop(Set("lcf"))
    spark.table(table).as[(Long, Long)].collect().sorted.toSeq
  }

  test("a graft-started stateful query writes its checkpoint without starting a process") {
    withManagerKey(None) {
      val starts = processStarts(assert(statefulRun("lcf_nio") == Seq((0L, 3L), (1L, 3L))))
      assert(spark.conf.get(ManagerKey) == classOf[LocalCheckpointFiles].getName)
      val forked = fromCheckpointManager(starts)
      assert(forked.isEmpty, s"${forked.size} process starts from a checkpoint manager: ${forked.headOption}")
    }
  }

  test("a user-set checkpoint file manager wins over the installed one") {
    val userSet = classOf[FileContextBasedCheckpointFileManager].getName
    withManagerKey(Some(userSet)) {
      val starts = processStarts(assert(statefulRun("lcf_user") == Seq((0L, 3L), (1L, 3L))))
      assert(spark.conf.get(ManagerKey) == userSet)
      // Spark's manager forks on a local path when libhadoop is absent:
      // the same recording that sees none above sees them here
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
        assert(fromCheckpointManager(starts).nonEmpty)
    }
  }

  test("pointers that Hadoop's filesystem wrote with a .crc keep resuming after an atomic flip") {
    implicit val sqlCtx = spark.sqlContext
    withManagerKey(Some(classOf[LocalCheckpointFiles].getName)) {
      // StatefulHotSwap: batch 0's marker as the earlier writer left it
      val state = s"${Files.createTempDirectory("graft_lcf_shs_")}/state"
      val init = Seq.empty[(Long, Long)].toDF("k", "total")
      def handle() = StatefulHotSwap { (batch, st) =>
        val next = st.unionByName(batch).groupBy("k").agg(sum("total").as("total"))
        (next, next)
      }
      handle().runBatch(Seq((1L, 10L)).toDF("k", "total"), 0L, init, state, (_, _) => ())
      val marker = new Path(s"$state/_latest")
      hadoopWrite(marker, hadoopRead(marker))
      assert(new java.io.File(s"$state/._latest.crc").exists)
      handle().runBatch(Seq((1L, 5L)).toDF("k", "total"), 1L, init, state, (_, _) => ())
      val rebuilt = handle()
      rebuilt.recover(spark, state)
      assert(rebuilt.currentState(spark, init).as[(Long, Long)].collect().toMap == Map(1L -> 15L))
      assert(hadoopRead(marker).startsWith("1\n")) // no stale checksum left beside it

      // scd2: batch 0's _LATEST as the earlier writer left it
      val table = Files.createTempDirectory("graft_lcf_scd2_").toString
      val commits = Files.createTempDirectory("graft_lcf_scd2_c_").toString
      val in = MemoryStream[(Long, String)]
      val q = StreamSink.scd2("lcf_dim", table, commits, Seq("k"), Seq("attr"))
        .build(in.toDF().toDF("k", "attr")).start()
      val latest = new Path(table, "_LATEST")
      try {
        in.addData(1L -> "a"); q.processAllAvailable()
        hadoopWrite(latest, hadoopRead(latest))
        in.addData(1L -> "b"); q.processAllAvailable()
      } finally q.stop()
      assert(hadoopRead(latest) == "1")
      assert(StreamSink.readLatest(spark, table).get.where(col("valid_to").isNull)
        .select("attr").as[String].collect().toSeq == Seq("b"))
    }
  }

  test("ParcelsCep stopped and restarted from its checkpoint decides like one uninterrupted run") {
    import ParcelsCep.{OrderEvent, OrderStatus}
    val day = 86400000000L
    // orders whose events straddle the restart: the state carries them
    val first = Seq(
      OrderEvent(1, "ORDER", 0L, 2), OrderEvent(1, "SHIPMENT", 1 * day, 0),
      OrderEvent(2, "ORDER", 0L, 3), OrderEvent(3, "SHIPMENT", 2 * day, 0),
      OrderEvent(4, "ORDER", 0L, 1), OrderEvent(4, "SHIPMENT", 1 * day, 0))
    val second = Seq(
      OrderEvent(1, "SHIPMENT", 2 * day, 0), OrderEvent(2, "SHIPMENT", 9 * day, 0),
      OrderEvent(3, "ORDER", 1 * day, 1), OrderEvent(5, "ORDER", 0L, 0))
    val schema = org.apache.spark.sql.Encoders.product[OrderEvent].schema
    def run(in: String, out: String, ckpt: String): Unit =
      Composite(Seq(
        StreamSource.parquet("parcels", in, schema),
        Transformer("parcels")(df => ParcelsCep(df.as[OrderEvent], slaDays = 7).toDF()),
        StreamSink.parquet("parcels", out, ckpt).copy(sync = true)))(EmptyFlow)
    def statuses(out: String) =
      spark.read.parquet(out).as[OrderStatus].collect().map(s => s.orderKey -> s.status).sorted.toSeq
    def tmp(tag: String) = Files.createTempDirectory(s"graft_lcf_$tag").toString

    val (in, out, ckpt) = (tmp("in"), tmp("out"), tmp("ck"))
    first.toDS().write.mode("append").parquet(in)
    run(in, out, ckpt)
    second.toDS().write.mode("append").parquet(in)
    run(in, out, ckpt)
    val (allIn, allOut) = (tmp("in_all"), tmp("out_all"))
    (first ++ second).toDS().write.parquet(s"$allIn/part")
    run(s"$allIn/part", allOut, tmp("ck_all"))
    val restarted = statuses(out)
    assert(restarted == statuses(allOut))
    assert(restarted == Seq(1L -> "ALL_PARCELS_SHIPPED", 2L -> "THRESHOLD_EXCEEDED",
      3L -> "ALL_PARCELS_SHIPPED", 4L -> "ALL_PARCELS_SHIPPED", 5L -> "ALL_PARCELS_SHIPPED"))
  }
}
