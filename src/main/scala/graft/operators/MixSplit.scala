package graft.operators

import graft.Flow
import graft.core.{CacheRegistry, Component, FlowOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N named streams → 1 stream, bag union (reference: lib/mixer.ex:29-34).
  * The reference's arrival order is declared nondeterministic (its tests
  * sort before asserting) so `unionByName` is an exact semantic match.
  * Spark unions are plan-level only — no data movement, partitions of all
  * inputs are simply concatenated, so an N-way mix is free at any scale.
  *
  * `noWait` (reference: lib/gen_mix.ex:377-387) — halt output when one
  * input halts — is meaningless in batch (all inputs finite); on a
  * streaming flow it marks the output via [[graft.core.NoWait]] and the
  * downstream [[graft.streaming.StreamSink]] stops its query as soon as
  * any constituent source drains (reference test:
  * test/mixer_test.exs:126-147, the tick+finite idiom).
  */
final case class Mixer(inputs: Seq[String], output: String, noWait: Boolean = false)
    extends Component {
  def apply(flow: Flow): Flow = {
    val dfs = inputs.map(n =>
      flow.getOrElse(n, throw new IllegalArgumentException(s"Mixer: missing stream '$n'")))
    val mixed = dfs.reduce(_ unionByName _)
    // Only a streaming mix marks: a batch Mixer(noWait) is a no-op by
    // contract, and marking here would leak the session-global flag to
    // an unrelated later streaming query on the same stream name.
    if (noWait && mixed.isStreaming) graft.core.NoWait.mark(output)
    FlowOps.rewire(flow, inputs, Seq(output -> mixed))
  }
}

/** Balanced tree of mixers (reference: lib/mixer_tree.ex:16-41). Pure
  * API sugar: Spark's union is n-ary and the DAG scheduler handles
  * fan-in, so the tree shape collapses into one union node.
  */
object MixerTree {
  def apply(inputs: Seq[String], output: String, parts: Int = 2): Mixer =
    Mixer(inputs, output)
}

/** 1 stream → N streams (reference: lib/splitter.ex:36-50,73-80).
  *
  * Duplicate mode (list of names): every output is the same DataFrame —
  * plan reuse, zero copies. Predicate mode (name → predicate): each
  * output is an independent filter; predicates may overlap or cover
  * nothing, exactly like the reference's per-output `Enum.split_with`.
  *
  * `cache = true` persists the parent so N downstream actions scan the
  * input once; the persisted frame is tracked in
  * [[graft.core.CacheRegistry]] — call `CacheRegistry.unpersistAll()`
  * (done by `Sink.drain()`) to release the blocks. At 100 TB prefer
  * cache=false + letting each branch push its own filter into the
  * parquet scan — N cheap column-pruned scans usually beat
  * materializing the full parent.
  */
final case class Splitter(
    input: String,
    outputs: Seq[(String, Option[Column])],
    cache: Boolean = false)
    extends Component {
  def apply(flow: Flow): Flow = {
    val src0 = flow.getOrElse(
      input, throw new IllegalArgumentException(s"Splitter: missing stream '$input'"))
    val src =
      if (cache) CacheRegistry.persist(src0) else src0
    val outs = outputs.map { case (n, pred) => n -> pred.fold(src)(src.filter) }
    FlowOps.rewire(flow, Seq(input), outs)
  }
}

object Splitter {
  /** Duplicate mode. */
  def apply(input: String, names: Seq[String]): Splitter =
    Splitter(input, names.map(_ -> Option.empty[Column]))

  /** Predicate mode. */
  def predicates(input: String, preds: Seq[(String, Column)], cache: Boolean = false): Splitter =
    Splitter(input, preds.map { case (n, p) => n -> Some(p) }, cache)
}

/** Tree of splitters (reference: lib/splitter_tree.ex:12-18,52-68).
  * copy mode → duplicate-mode Splitter; hash mode — the reference's
  * `phash2(event, n) == i` disjoint partitioning — is Spark's own hash
  * exchange: prefer `df.repartition(n, cols)` (one shuffle) over N
  * filter branches (N scans). Both forms provided.
  */
object SplitterTree {
  def copy(input: String, outputs: Seq[String], parts: Int = 2): Splitter =
    Splitter(input, outputs)

  /** Disjoint hash fan-out into named streams via pmod(hash, n). */
  def hash(input: String, outputs: Seq[String], keys: Seq[Column]): Splitter = {
    val n = outputs.size
    val bucket = pmod(org.apache.spark.sql.functions.hash(keys: _*), lit(n))
    Splitter(input, outputs.zipWithIndex.map { case (name, i) => name -> Some(bucket === i) })
  }

  /** The idiomatic at-scale form: one shuffle, n co-located partitions. */
  def repartitioned(input: String, output: String, n: Int, keys: Seq[Column]): Component =
    graft.core.Composite(Seq(
      Transformer(input)(df => df.repartition(n, keys: _*)),
      graft.core.Renamer(Map(input -> output))))
}
