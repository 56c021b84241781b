package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The parquet schema catalog: the batch table reads (`SparkEntry.t`,
  * `Source.parquet`) open through [[open]], so a table's schema is
  * inferred once per JVM.
  *
  * `spark.read.parquet(path)` infers the schema from the file footer in
  * one Spark job on every call; at gate scale that job is a large share
  * of building a query (14 open jobs, 405 ms of 2.7 s of query building,
  * in a traced 13-query sf0.01 mix on a 4-core box). This is metadata
  * caching, as a metastore gives Spark: the catalog holds schemas, never
  * rows, and a hit returns `spark.read.schema(cached).parquet(path)` —
  * the same relation and plan as the inferring read, minus its job.
  *
  * '''Key.''' An entry belongs to a plain file (not a directory or glob)
  * and to the session's effective values of the settings that change
  * what parquet inference returns ([[inferenceSettings]]). It records the
  * file's length and modification time, as the session's Hadoop
  * `FileSystem` reports them, next to the inferred `StructType`.
  *
  * '''Invalidation.''' Each open stats the file once. A different length
  * or modification time re-infers and replaces the entry, so a file
  * rewritten at its path is re-read. A rewrite that keeps the path, the
  * length and the modification time (to the file system's timestamp
  * resolution) is not seen: that entry is stale.
  *
  * The catalog is JVM-wide and outlives `spark.stop()`: its value is a
  * function of the file's bytes and those settings alone, and an entry
  * holds strings, two longs and a `StructType` — never a session or a
  * context. It holds one entry per file and settings combination.
  *
  * Directories, globs and paths that do not exist read exactly as
  * `spark.read.parquet(path)` does, inference included.
  */
private[graft] object ParquetTables {

  /** Session settings whose value changes the schema parquet inference
    * returns for the same bytes.
    */
  private val inferenceSettings = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  private final case class Key(path: String, settings: Seq[Option[String]])
  private final case class Entry(length: Long, modificationTime: Long, schema: StructType)

  private val entries = new ConcurrentHashMap[Key, Entry]()

  // the characters Spark's DataSource treats as a glob
  private val globChars = "{}[]*?\\"

  /** `spark.read.parquet(path)`, with the schema of a plain file taken
    * from the catalog when its length and modification time still match.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    plainFile(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(status) =>
        val key = Key(status.getPath.toString, inferenceSettings.map(spark.conf.getOption))
        val cached = entries.get(key)
        if (cached != null && cached.length == status.getLen &&
            cached.modificationTime == status.getModificationTime)
          spark.read.schema(cached.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          entries.put(key, Entry(status.getLen, status.getModificationTime, df.schema))
          df
        }
    }

  private def plainFile(spark: SparkSession, path: String): Option[FileStatus] =
    if (path.exists(globChars.contains(_))) None
    else {
      val p = new Path(path)
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p))
        .filter(_.isFile)
      catch { case _: FileNotFoundException => None }
    }
}
