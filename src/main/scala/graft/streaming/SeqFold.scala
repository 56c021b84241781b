package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed seq-ordered fold every per-key stream twin runs on
  * ([[StreamEwma]], [[StreamCusum]], [[StreamHolt]],
  * [[StreamHoltWinters]], [[StreamZscore]], [[StreamDistinct]],
  * [[StreamQuantile]], [[StreamRecords]]). A twin supplies only its
  * initial state, its late row and its step; this driver owns the
  * ordering, the high-water mark, late flagging and the state update.
  *
  * Ordering contract: every row carries a per-key `seq`. Each
  * micro-batch's slice for a key is sorted by it before folding
  * (`flatMapGroupsWithState` hands the group iterator over unordered;
  * the slice is bounded by the trigger's batch size, so an in-memory
  * sort is safe), and batches must arrive in per-key seq order. The
  * state keeps the key's seq high-water mark. A row at or below it (a
  * late or duplicate seq) is DROPPED: it is never folded, and surfaces
  * as the twin's late row (`late = true`, null outputs). Fold state
  * cannot be rewound, so silently folding a stale row would corrupt
  * every later value — the same explicitly pinned late-data divergence
  * from the batch operator as [[StreamFunnel]]'s no-re-anchor rule. An
  * in-order feed reproduces the batch operator's rows exactly, however
  * it is cut into micro-batches.
  *
  * Scale shape: one stateful exchange on the key; the state per key is
  * the twin's state plus one long, regardless of stream length.
  */
private[streaming] object SeqFold {

  /** Fold `events` per `key` in `seq` order. `init` makes a key's first
    * state (called once per new key, so a mutable state is never
    * shared); `late` builds the row for a dropped stale seq from the
    * current state; `step` folds one in-order row and returns the next
    * state with the row's output (it may update the state in place).
    */
  def apply[I, K: Encoder, S: TypeTag, O: Encoder](events: Dataset[I], init: () => S)(
      key: I => K, seq: I => Long)(
      late: (K, S, I) => O)(
      step: (K, S, I) => (S, O)): Dataset[O] =
    events
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (k: K, it: Iterator[I], state: GroupState[(S, Long)]) =>
          fold(k, it, state, seq, init, late, step))(
        Encoders.product[(S, Long)], implicitly[Encoder[O]])

  /** One key's micro-batch: the stored state is (twin state, seq
    * high-water mark).
    */
  private def fold[K, I, S, O](
      k: K,
      it: Iterator[I],
      state: GroupState[(S, Long)],
      seq: I => Long,
      init: () => S,
      late: (K, S, I) => O,
      step: (K, S, I) => (S, O)): Iterator[O] = {
    var (st, maxSeq) = state.getOption.getOrElse((init(), Long.MinValue))
    val out = it.toVector.sortBy(seq).map { row =>
      val q = seq(row)
      if (q <= maxSeq) late(k, st, row)
      else {
        val (next, o) = step(k, st, row)
        st = next
        maxSeq = q
        o
      }
    }
    state.update((st, maxSeq))
    out.iterator
  }
}
