package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b dumps a subset
    // (the driver never sets it — full dump for the real gate).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Failures must be LOUD: a query that errors writes no parquet dir, and
    // the driver's compare iterates written dirs — so without an artifact a
    // broken query silently vanishes from CORRECTNESS (this hid a 31-query
    // schema-drift breakage for two rounds). Every failure now produces
    // _failed/<name>.txt plus an errors.json summary, and a nonzero failure
    // count is printed last so no harness can miss a broken run.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        failed(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        // Plain FILES (not a subdirectory): the driver's compare walks
        // outDir's directories expecting parquet, so a _failed/ dir
        // would itself surface as a bogus query row.
        try Files.writeString(Paths.get(s"$outDir/_failed_$name.txt"), msg + "\n")
        catch { case w: Throwable =>
          System.err.println(s"[verify] could not write failure artifact for $name: $w")
        }
      }
      finally graft.core.CacheRegistry.unpersistAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // Summarize loudly but exit 0: the driver must still run its compare on
    // the queries that DID write (an exit-1 could zero the whole round).
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
  }
}
