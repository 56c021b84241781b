package layerbench

import graft.SparkEntry
import graft.core.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The checked action: row count plus an order-insensitive fingerprint over
  * every column, so no column can be pruned away and every value is checked.
  * Each row hashes to a 64-bit xxhash; the fingerprint is the count and the
  * sums of the hashes' high and low 32-bit halves (no overflow below 2^31
  * rows). Maps hash as their entries sorted by key.
  */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftright(col("h"), 32)), sum(col("h").bitwiseAND(0xffffffffL)))
      .collect()(0)
    val n = r.getLong(0)
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, f"$n%d:$hi%x:$lo%x")
  }
}

/** Outcome of one query: phase times, the checked result and the leak count. */
final case class OpResult(name: String, buildMs: Double, actionMs: Double, releaseMs: Double,
    rows: Long, fp: String, error: String, leakedRdds: Int, windows: OpWindows) {
  def latencyMs: Double = buildMs + actionMs
  def toMap: Map[String, Any] = Map("name" -> name, "build_ms" -> buildMs,
    "action_ms" -> actionMs, "release_ms" -> releaseMs, "rows" -> rows, "fp" -> fp,
    "error" -> Option(error), "leaked_rdds" -> leakedRdds)
}

/** Runs catalog queries through their public entry points, one at a time. */
final class BatchRunner(spark: SparkSession) {
  private val queries = SparkEntry.queries

  def run(name: String, dir: String, key: String): OpResult = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Op, key)
    var error: String = null
    def timed[A](phase: String)(body: => A): (Option[A], Double, (Long, Long)) = {
      sc.setLocalProperty(Tags.Phase, phase)
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val out =
        try Some(body)
        catch { case e: Exception =>
          if (error == null)
            error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}"
          None
        }
      val ms = (System.nanoTime() - t0) / 1e6
      (out, ms, (w0, System.currentTimeMillis()))
    }
    val (df, buildMs, bw) = timed("build")(queries(name)(spark, dir))
    val (res, actionMs, aw) = timed("action")(df.map(Fingerprint.of))
    val (_, releaseMs, rw) = timed("release")(CacheRegistry.unpersistAll(blocking = true))
    sc.setLocalProperty(Tags.Phase, null)
    sc.setLocalProperty(Tags.Op, null)
    // Untimed barrier: count what release left persisted, then drop it so a
    // leak cannot slow the queries after it.
    val leaked = sc.getPersistentRDDs.values.toSeq
    leaked.foreach(_.unpersist(blocking = true))
    val (rows, fp) = res.flatten.getOrElse((-1L, ""))  // Option[Option[_]]: build or action failed
    OpResult(name, buildMs, actionMs, releaseMs, rows, fp, error, leaked.size,
      OpWindows(key, bw, aw, rw))
  }
}
