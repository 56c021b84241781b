package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream,
  Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every query graft starts (installed
  * by [[StreamSink.start]]). Every micro-batch writes about a
  * dozen small files — offset WAL, commit log, source and sink logs,
  * state-store deltas and their checksums — and on a `file:` path
  * Hadoop's local filesystem without libhadoop starts an external
  * `readlink` or `chmod` process for each create and rename. This
  * manager writes local checkpoint files through java.nio and starts no
  * process; the per-batch cost that remains is the files themselves.
  *
  * Routing: the path is qualified by its own filesystem (a scheme-less
  * path on an HDFS `defaultFS` is not local). A `file` path gets the
  * java.nio manager; any other scheme gets Spark's own default, as
  * `CheckpointFileManager.create` picks it: the `FileContext` manager,
  * or the `FileSystem` one where the scheme has no `FileContext`.
  *
  * Semantics are those of Spark's rename-based stream: `createAtomic`
  * writes a hidden temp file next to the target and `close` publishes
  * it — with an atomic rename when overwrite is allowed, otherwise with
  * a hard link that fails atomically with Hadoop's
  * `FileAlreadyExistsException` (how `HDFSMetadataLog` detects a
  * concurrent writer) and keeps the old bytes. On a mount without hard
  * links (a FUSE mount of an object store) it falls back to a plain
  * rename that refuses an existing target, the rename Spark's own local
  * manager does there. `cancel` and a failed publish delete the temp.
  * Spark's `ChecksumCheckpointFileManager` still wraps this manager for
  * state files.
  *
  * Hadoop's checksumming local filesystem keeps a `.<name>.crc` beside
  * each file it writes; files written before this manager have one.
  * Publishing or deleting a file removes its `.crc`, so a reader through
  * Hadoop never checks new bytes against an old checksum.
  */
final class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private[streaming] val underlying: CheckpointFileManager =
    if (path.getFileSystem(conf).makeQualified(path).toUri.getScheme == "file")
      new LocalCheckpointFiles.Nio(path, FileSystem.getLocal(conf).getRaw)
    else
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFiles {
  /** The checkpoint file manager the queries of `spark` use for `dir`. */
  private[streaming] def manager(spark: SparkSession, dir: Path): CheckpointFileManager =
    CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())

  /** Write `text` to `file` through `fm`, replacing any old content
    * atomically: a reader sees the old file or the new one, never
    * neither — the commit-pointer flip of the streaming sinks.
    */
  private[streaming] def writeAtomic(fm: CheckpointFileManager, file: Path, text: String): Unit = {
    val out = fm.createAtomic(file, overwriteIfPossible = true)
    try out.write(text.getBytes("UTF-8"))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** The text of `file` read through `fm`, or None when it is missing. */
  private[streaming] def readText(fm: CheckpointFileManager, file: Path): Option[String] =
    if (!fm.exists(file)) None
    else {
      val in = fm.open(file)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** The checksum file Hadoop's local filesystem keeps beside `f`. */
  private def crcOf(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")

  /** The java.nio manager for `file` paths. `open` and `list` go through
    * the raw local filesystem, which reads without starting a process.
    */
  private[streaming] final class Nio(root: Path, raw: FileSystem) extends CheckpointFileManager {
    private def local(p: Path) = Paths.get(raw.makeQualified(p).toUri)

    def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicFile(temp, target, overwriteIfPossible)
    }

    def open(p: Path): FSDataInputStream = raw.open(p)
    def list(p: Path, filter: PathFilter): Array[FileStatus] = raw.listStatus(p, filter)
    def mkdirs(p: Path): Unit = { val _ = Files.createDirectories(local(p)) }
    def exists(p: Path): Boolean = Files.exists(local(p))
    def isLocal: Boolean = true

    /** Delete `p` and everything under it; a missing path is not an error. */
    def delete(p: Path): Unit = {
      val f = local(p)
      deleteTree(f)
      val _ = Files.deleteIfExists(crcOf(f))
    }

    private def deleteTree(f: java.nio.file.Path): Unit = {
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val children =
          try { val s = Files.list(f); try s.toArray.toSeq finally s.close() }
          catch { case _: NoSuchFileException => Nil }
        children.foreach(c => deleteTree(c.asInstanceOf[java.nio.file.Path]))
      }
      val _ = Files.deleteIfExists(f)
    }

    def createCheckpointDirectory(): Path = {
      val q = raw.makeQualified(root)
      mkdirs(q)
      q
    }
  }

  /** A checkpoint file being written to `temp`, published to `target`
    * on `close`; the temp never outlives `close` or `cancel`.
    */
  private final class AtomicFile(
      temp: java.nio.file.Path, target: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          // gone before the new bytes land: a reader sees the old file
          // with or without its checksum, or the new one without
          val _ = Files.deleteIfExists(crcOf(target))
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try {
              try Files.createLink(target, temp)
              catch { // no hard links here: a rename that refuses an existing target
                case e: IOException if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
                  Files.move(temp, target)
                case _: UnsupportedOperationException => Files.move(temp, target)
              }
            } catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
        } finally { val _ = Files.deleteIfExists(temp) }
      }
    }

    def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally { val _ = Files.deleteIfExists(temp) }
      }
    }
  }
}
