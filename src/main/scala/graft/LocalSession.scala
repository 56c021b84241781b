package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe behind every graft main, probe and spec:
  * `local[cores]` with one shuffle partition per core, the UTC session
  * time zone, parquet nanosecond timestamps read as longs (the test
  * data's `events.ts`) and no UI. Callers add their own settings (app
  * name, local dir, warehouse dir) to the returned builder.
  */
object LocalSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
