package graft.core

import graft.Flow
import org.apache.spark.sql.DataFrame

/** A dataflow component: a pure value transforming a [[graft.Flow]].
  *
  * Mirrors the reference's component contract `call(flow, component) ::
  * flow` (reference: lib/strom.ex:6, lib/composite.ex:93-97). Components
  * compose by ordinary function composition; a pipeline is a value, not
  * a process tree — Spark's driver/executor scheduling replaces the
  * reference's GenMix actor runtime (reference: lib/gen_mix.ex) wholesale.
  */
trait Component extends (Flow => Flow) {
  def apply(flow: Flow): Flow

  /** Sequential composition: `this andThen next` as a Composite. */
  def |>(next: Component): Composite = Composite(Seq(this, next))
}

/** One flow run's mutable bookkeeping: the frames its components
  * materialized, its `no_wait` stream marks, and its pending async sinks.
  * Every registry below reads the ACTIVE scope, so two pipelines that
  * reuse stream names — or that drain at different times — cannot
  * interfere once each runs inside [[RunScope.scoped]]:
  *
  * {{{
  * RunScope.scoped { pipeline(flow); Sink.drain() }  // releases ONLY
  *                                                   // this run's caches
  * }}}
  *
  * Code outside any `scoped` block shares the [[RunScope.root]] scope,
  * which preserves the session-lifetime behavior (tests, Verify, Bench
  * call `CacheRegistry.unpersistAll()` to sweep it).
  */
final class RunScope {
  /** Each materialized frame with the call that releases its blocks
    * (`blocking` as argument).
    */
  private[graft] val materialized =
    new java.util.concurrent.ConcurrentLinkedQueue[(DataFrame, Boolean => Unit)]()
  private[graft] val noWaitMarks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] val pendingSinks =
    new java.util.concurrent.ConcurrentLinkedQueue[scala.concurrent.Future[Unit]]()
}

object RunScope {
  /** The default scope shared by everything not running under [[scoped]]. */
  val root = new RunScope
  private val current = new scala.util.DynamicVariable[RunScope](root)
  def active: RunScope = current.value
  /** Run `body` under a fresh scope. The scope is thread-confined (the
    * thread applying the flow is the thread that drains it — Spark
    * actions block their caller, so one flow run IS one thread); async
    * sink FUTURES may hop threads, but they register with the caller's
    * scope before launching.
    */
  def scoped[A](body: => A): A = current.withValue(new RunScope)(body)
  /** Re-install a captured scope on the current thread for `body`.
    * Async sink bodies use this: DynamicVariable is an
    * InheritableThreadLocal, so a pooled worker born inside some run's
    * `scoped` block keeps that run's scope as its default forever —
    * re-installing the launching flow's scope makes registrations land
    * where drain() will find them regardless of which thread runs.
    */
  def withScope[A](s: RunScope)(body: => A): A = current.withValue(s)(body)
}

/** The only way graft materializes a frame. Every persist (multi-leg
  * operators, cache=true Splitters) and every `localCheckpoint`
  * (iterative rounds, lineage cuts) goes through here and is
  * registered with the active [[RunScope]], so callers release cached
  * blocks deterministically instead of leaking them until session end.
  * `Sink.drain()` calls [[unpersistAll]] after awaiting async sinks;
  * Bench and Verify call it after each query.
  */
object CacheRegistry {
  import org.apache.spark.sql.classic
  import org.apache.spark.sql.execution.LogicalRDD

  /** Spill to local disk rather than drop and recompute: every frame
    * graft materializes feeds more than one reader.
    */
  private val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(level)
    RunScope.active.materialized.add((p, b => { p.unpersist(b); () }))
    p
  }

  /** `localCheckpoint`: truncates the lineage and pins the rows in
    * executor blocks. `eager = false` defers the materializing job to the
    * frame's first action (a caller whose next step is an action anyway
    * saves a job). `Dataset.unpersist` does not reach the RDD the
    * checkpoint reads, so the registration releases that RDD itself.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager)
    val rdd = cp.asInstanceOf[classic.Dataset[_]].queryExecution.logical match {
      case r: LogicalRDD => r.rdd
    }
    RunScope.active.materialized.add((cp, b => { rdd.unpersist(b); () }))
    cp
  }

  /** Release one frame now and forget it: a loop's round frame once the
    * next round is materialized. A frame this scope did not materialize
    * is left alone.
    */
  def release(df: DataFrame): Unit = {
    val q = RunScope.active.materialized
    q.forEach(m => if ((m._1 eq df) && q.remove(m)) m._2(false))
  }

  /** Release every frame the active scope materialized, persists and
    * checkpoints alike. `blocking = true` waits for the executor-side
    * block drops to finish — the bench's isolation barrier needs that
    * (an async drain races the NEXT timed run's re-persist of the same
    * frames: re-put vs in-flight removal churns storage memory and shows
    * up as "Block rdd_* already exists" warnings and inflated
    * back-to-back timings); pipeline sinks keep the non-blocking
    * default, where drain latency matters and a lingering block merely
    * drops later.
    */
  def unpersistAll(blocking: Boolean = false): Unit = {
    val q = RunScope.active.materialized
    var m = q.poll()
    while (m != null) { m._2(blocking); m = q.poll() }
  }
}

/** Dimension probe shared by the embedding-family operators
  * (linearCka, matryoshkaEval, knnShapley, kcenterSelect, mmrRerank,
  * PCA prep): realized vector width from the first non-empty row.
  * `headOption` (not `head()`) so an EMPTY input fails with a clear
  * operator-named requirement instead of a bare
  * NoSuchElementException from deep inside the probe job.
  */
object VecDim {
  def probe(df: DataFrame, vecCol: String, opName: String): Int = {
    import org.apache.spark.sql.functions.{col, size}
    checked(df.select(size(col(vecCol)).as("_d")).where(col("_d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0)), vecCol, opName)
  }

  /** The probe's requirement on an already-read first non-empty width
    * (an operator that collects its rows anyway reads it for free).
    */
  def checked(first: Option[Int], vecCol: String, opName: String): Int = {
    require(first.isDefined,
      s"$opName: input has no non-empty '$vecCol' vectors to infer the " +
        s"embedding dim from (empty frame, or every vector is empty/null)")
    first.get
  }
}

/** Marks streams whose mix was declared `no_wait` (reference:
  * lib/gen_mix.ex:377-387 — output halts as soon as one input halts).
  * Batch unions are all-finite so the flag is a no-op there; for
  * streams, [[graft.streaming.StreamSink]] consumes the mark and
  * applies the stop-when-an-input-drains policy. Scoped per flow run
  * via [[RunScope]], so two flows reusing a stream name can't exchange
  * marks.
  */
object NoWait {
  def mark(stream: String): Unit = RunScope.active.noWaitMarks.add(stream)
  /** True if the stream was marked; clears the mark (one consumer). */
  def consume(stream: String): Boolean = RunScope.active.noWaitMarks.remove(stream)
}

object FlowOps {
  /** Name-collision rule: output landing on an existing stream name is
    * concatenated (bag union), never replaced
    * (reference: lib/gen_mix/streams.ex:18-23, lib/source.ex:108-112).
    */
  def merge(flow: Flow, name: String, df: DataFrame): Flow =
    flow.get(name) match {
      case Some(prev) => flow.updated(name, prev.unionByName(df))
      case None       => flow.updated(name, df)
    }

  /** Consume `inputs` from the flow, then merge `outputs` under the
    * collision rule — the core GenMix flow-rewrite step
    * (reference: lib/gen_mix/streams.ex:16-24). Inputs are plucked
    * first so a component may legally re-emit an input name.
    */
  def rewire(flow: Flow, inputs: Seq[String], outputs: Seq[(String, DataFrame)]): Flow = {
    val missing = inputs.filterNot(flow.contains)
    require(missing.isEmpty, s"flow is missing input stream(s): ${missing.mkString(", ")}")
    outputs.foldLeft(flow -- inputs) { case (f, (n, df)) => merge(f, n, df) }
  }
}

/** A pipeline of components that is itself a component
  * (reference: lib/composite.ex:93-97). Nested composites flatten
  * (reference: lib/composite.ex:40-52), so `Composite(a, Composite(b, c))`
  * ≡ `Composite(a, b, c)`.
  *
  * The reference's start/stop lifecycle and supervision tree have no
  * analog here: plans are immutable values and a failed action throws.
  * The live-manipulation API (insert/replace/delete) is preserved at the
  * value level — it returns a new Composite to re-run, since Catalyst
  * plans are cheap to rebuild (in-flight rewrite is out of scope; see
  * SURVEY §2.1 #17).
  */
final case class Composite(components: Seq[Component]) extends Component {
  def apply(flow: Flow): Flow = components.foldLeft(flow)((f, c) => c(f))

  /** Reference error contract (`:indicies_not_in_range`, reference:
    * test/composite/manipulations/delete_components_test.exs:36-55):
    * invalid indices fail loudly instead of silently clamping — a
    * `patch` on a bad range would quietly rewrite the wrong stages.
    * (The reference's `:cannot_replace_last_component` rule guards its
    * RUNNING actor topology; value-level rebuilds have no such hazard,
    * so it intentionally does not apply here.)
    */
  private def requireRange(from: Int, to: Int): Unit =
    require(
      from >= 0 && to >= from && to < components.length,
      s"indices [$from, $to] not in range [0, ${components.length - 1}]")

  /** Insert components at index `i` (reference: lib/composite.ex:102-117). */
  def insert(i: Int, comps: Component*): Composite = {
    require(
      i >= 0 && i <= components.length,
      s"insert index $i not in range [0, ${components.length}]")
    Composite(components.patch(i, Composite.flatten(comps), 0))
  }

  /** Replace components in `[from, to]` inclusive
    * (reference: lib/composite/manipulations.ex:30-52).
    */
  def replace(from: Int, to: Int, comps: Component*): Composite = {
    requireRange(from, to)
    Composite(components.patch(from, Composite.flatten(comps), to - from + 1))
  }

  /** Delete components in `[from, to]` inclusive
    * (reference: lib/composite/manipulations.ex:54-74).
    */
  def delete(from: Int, to: Int): Composite = {
    requireRange(from, to)
    Composite(components.patch(from, Nil, to - from + 1))
  }

  /** ASCII stream-graph (reference: lib/composite/topology.ex:9-33).
    * For the physical plan use `df.explain` on any flow stream instead.
    */
  def topology: String = Topology.draw(this)

  /** Deep-chain escape hatch: insert a [[LocalCheckpoint]] stage after
    * every `n` components. Catalyst analysis cost grows superlinearly
    * with plan depth, so a program that COMPOSES pipelines (the
    * reference's 100k-transformer envelope,
    * test/experiments_test.exs:76-181) eventually pays more to analyze
    * the plan than to run it; truncating lineage every `n` stages caps
    * the depth Catalyst ever sees at `n`. Costs one materialization of
    * every live stream per checkpoint (executor-local blocks — cheap,
    * but not free, and not fault-tolerant storage: a lost executor
    * kills the run, acceptable for the driver-local deep-chain case).
    * Streaming frames pass through untouched.
    */
  def checkpointEvery(n: Int): Composite = {
    require(n > 0, s"checkpointEvery: n must be positive, got $n")
    val groups = components.grouped(n).toSeq
    Composite(groups.zipWithIndex.flatMap { case (g, i) =>
      // No trailing stage: the last group never checkpoints, even when
      // it is exactly n long — a checkpoint AFTER the final component
      // would materialize every live stream once more for nothing.
      if (i < groups.length - 1) g :+ LocalCheckpoint() else g
    })
  }
}

/** Truncates every batch stream's lineage via `localCheckpoint` —
  * inserted by [[Composite.checkpointEvery]]; usable directly anywhere
  * a pipeline grows too deep for Catalyst analysis.
  */
final case class LocalCheckpoint(eager: Boolean = true) extends Component {
  def apply(flow: Flow): Flow =
    flow.map { case (n, df) =>
      n -> (if (df.isStreaming) df else CacheRegistry.checkpoint(df, eager))
    }
}

/** Attaches a display label to a component — the reference's
  * `label:` option (lib/composite/topology.ex:139-163 prefers it over
  * the struct name when drawing). Purely cosmetic: apply delegates.
  */
final case class Labeled(label: String, inner: Component) extends Component {
  def apply(flow: Flow): Flow = inner(flow)
}

/** Stream-graph rendering for composites (reference:
  * lib/composite/topology.ex:9-33 draws each component with the stream
  * names flowing in and out of it). Components are values here, so the
  * edges are recovered from their declared input/output names.
  */
object Topology {

  /** (consumed streams, produced streams) for a component, by shape. */
  def edges(c: Component): (Seq[String], Seq[String]) = c match {
    case s: graft.sources.Source          => (Nil, Seq(s.name))
    case s: graft.streaming.StreamSource  => (Nil, Seq(s.name))
    case k: graft.sinks.Sink              => (Seq(k.name), Nil)
    case k: graft.streaming.StreamSink    => (Seq(k.name), Nil)
    case w: graft.streaming.Watermark     => (Seq(w.name), Seq(w.name))
    case t: graft.operators.Transformer   => (t.names, t.names)
    case m: graft.operators.Mixer         => (m.inputs, Seq(m.output))
    case sp: graft.operators.Splitter     => (Seq(sp.input), sp.outputs.map(_._1))
    case l: graft.operators.Loop          => (Seq(l.name), Seq(l.name))
    case r: Renamer                       => (r.mapping.keys.toSeq, r.mapping.values.toSeq)
    case l: Labeled                       => edges(l.inner)
    case comp: Composite =>
      val es = comp.components.map(edges)
      (es.flatMap(_._1), es.flatMap(_._2))
    case _                                => (Nil, Nil)
  }

  /** One line per component: `[i] Name  ins ──▶ outs` (`·` = none). */
  def edgeList(composite: Composite): String =
    composite.components.zipWithIndex.map { case (c, i) =>
      val (ins, outs) = edges(c)
      val name = displayName(c)
      val in = if (ins.isEmpty) "·" else ins.distinct.mkString(", ")
      val out = if (outs.isEmpty) "·" else outs.distinct.mkString(", ")
      f"[$i] $name%-12s $in ──▶ $out"
    }.mkString("\n")

  /** Component glyphs, as the reference draws them
    * (lib/composite/topology.ex:181-185): source ▼, sink ▲, mixer Y,
    * splitter Λ, transformer ⏺.
    */
  private def glyph(c: Component): String = c match {
    case _: graft.sources.Source | _: graft.streaming.StreamSource => "▼"
    case _: graft.sinks.Sink | _: graft.streaming.StreamSink       => "▲"
    case _: graft.operators.Mixer                                  => "Y"
    case _: graft.operators.Splitter                               => "Λ"
    case _: graft.operators.Loop                                   => "↻"
    case l: Labeled                                                => glyph(l.inner)
    case _                                                         => "⏺"
  }

  private def displayName(c: Component): String = c match {
    case Labeled(label, _) => label
    case _                 => c.getClass.getSimpleName.stripSuffix("$")
  }

  /** Vertical stream-graph rendering (reference:
    * lib/composite/topology.ex:9-33): streams are vertical tracks
    * (`|`), each component is three lines — the active stream names,
    * the track line with the component's consumed inputs solid
    * (`❚`), and the glyph line placed at the mean input track with
    * produced streams marked `.`. Ended streams free their track; new
    * outputs take the freed slot closest to the component (splitter
    * fan-out spreads outward from its glyph). Returns the drawing; the
    * reference prints it.
    */
  def draw(composite: Composite): String = {
    val lines = Vector.newBuilder[String]
    def line(s: String): Unit = lines += s.replaceAll("\\s+$", "")
    var tracks = Vector.empty[Option[String]]
    composite.components.zipWithIndex.foreach { case (c, i) =>
      val (insAll, outsAll) = edges(c)
      val ins = insAll.distinct
      val outs = outsAll.distinct
      // streams appearing for the first time open a track
      ins.filterNot(n => tracks.contains(Some(n))).foreach(n => tracks :+= Some(n))
      line(tracks.flatten.mkString(" "))
      line(tracks.map {
        case Some(n) if ins.contains(n) => "❚ "
        case Some(_)                    => "| "
        case None                       => "  "
      }.mkString)
      val inPos = tracks.zipWithIndex.collect { case (Some(n), p) if ins.contains(n) => p }
      val avg0 = if (inPos.isEmpty) tracks.length // source: glyph sits on its new track
                 else math.round(inPos.sum.toDouble / inPos.size).toInt
      // consumed-and-not-re-emitted streams end: their tracks free up
      tracks = tracks.map {
        case Some(n) if ins.contains(n) && !outs.contains(n) => None
        case t                                               => t
      }
      // new outputs take the free slot nearest the glyph, else append
      outs.filterNot(n => tracks.contains(Some(n))).foreach { n =>
        val free = tracks.zipWithIndex.collect { case (None, p) => p }
        if (free.isEmpty) tracks :+= Some(n)
        else tracks = tracks.updated(free.minBy(p => math.abs(p - avg0)), Some(n))
      }
      // an input-less component (source) anchors on its first output's track
      val avg = if (inPos.nonEmpty) avg0
        else tracks.indexWhere(t => t.exists(outs.contains)) match {
          case -1 => math.max(tracks.length - 1, 0)
          case p  => p
        }
      val glyphLine = tracks.zipWithIndex.map {
        case (_, p) if p == avg          => glyph(c) + " "
        case (Some(n), _) if outs.contains(n) => ". "
        case (Some(_), _)                => "| "
        case (None, _)                   => "  "
      }.mkString
      val name = displayName(c)
      line(glyphLine.replaceAll("\\s+$", "") + s"  $name ($i)")
    }
    val tail = tracks.flatten.mkString(" ")
    (lines.result() ++ (if (tail.nonEmpty) Seq(tail) else Nil)).mkString("\n")
  }
}

object Composite {
  /** Varargs constructor with reference flattening semantics. */
  def apply(comps: Component*)(implicit d: DummyImplicit): Composite =
    Composite(flatten(comps))

  def of(comps: Component*): Composite = Composite(flatten(comps))

  private[core] def flatten(comps: Seq[Component]): Seq[Component] =
    comps.flatMap {
      case Composite(inner) => flatten(inner)
      case c                => Seq(c)
    }
}

/** Renames flow keys; fails fast if a source name is absent
  * (reference: lib/renamer.ex:16-33). A rename landing on an existing
  * name concatenates under the collision rule.
  */
final case class Renamer(mapping: Map[String, String]) extends Component {
  def apply(flow: Flow): Flow = {
    val missing = mapping.keys.filterNot(flow.contains)
    require(missing.isEmpty, s"Renamer: missing stream(s): ${missing.mkString(", ")}")
    // A no_wait mark travels with the stream it describes — without the
    // transfer, renaming between the Mixer and the StreamSink would
    // silently drop the stop policy AND leave a stale mark behind.
    mapping.foreach { case (from, to) => if (NoWait.consume(from)) NoWait.mark(to) }
    val renamed = mapping.map { case (from, to) => to -> flow(from) }
    renamed.foldLeft(flow -- mapping.keys) { case (f, (n, df)) => FlowOps.merge(f, n, df) }
  }
}
