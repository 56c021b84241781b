package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between user-facing `Column`s and catalyst `Expression`s.
  *
  * Spark 4 moved `Column` to a backend-neutral ColumnNode wrapper; the
  * classic-backend converters live behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim — the
  * standard pattern for Spark extension libraries that ship custom
  * codegen Expressions — re-exports just the two conversions graft
  * needs. No Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Map over a DataFrame's PHYSICAL partitions in Spark's internal
    * row format and wrap the result back as a DataFrame — the
    * narrow-pass primitive `Relational.prefixSums` needs, without the
    * `df.rdd` / `createDataFrame` round trip that boxes every field
    * of every row twice (InternalRow → Row on the way out, Row →
    * InternalRow through the encoder on the way back). The function
    * receives each partition's index and its InternalRow iterator and
    * must emit rows matching `out` as UnsafeRows (via an
    * `UnsafeProjection`).
    *
    * Row-reuse contract, both ways: an input row may be overwritten by
    * the iterator's next `next()` (scans and cached reads reuse one
    * buffer), so `f` must copy any value it keeps past the current row;
    * `f` may likewise emit one reused row (an `UnsafeProjection`
    * returns the same buffer each call), because Spark's operators copy
    * what they retain. Code that reads the returned frame's internal
    * RDD directly must `copy()` each row it keeps.
    *
    * Same access pattern as the Column/Expression shims above: only
    * `private[sql]` plumbing (`QueryExecution.toRdd`,
    * `internalCreateDataFrame`) re-exported, no internals modified.
    * The input's cache (if persisted) is honored — `toRdd` plans
    * through the session's CacheManager like any action.
    */
  def mapPartitionsInternal(df: Dataset[Row], out: types.StructType)(
      f: (Int, Iterator[catalyst.InternalRow]) => Iterator[catalyst.InternalRow])
      : Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.mapPartitionsWithIndex(f), out)
  }
}
