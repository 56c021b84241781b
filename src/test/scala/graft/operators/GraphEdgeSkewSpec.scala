package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Skew insurance for the iterative graph operators' src-hash edge
  * layout (r16 verdict "What's wrong #3"): the default one-exchange
  * form ships a hub source's entire DUPLICATED adjacency into one
  * partition with no map-side reduction. With
  * `spark.graft.graph.prededupEdges=true` the layout dedups first —
  * partial aggregation + a (src, dst)-spread exchange bound the
  * per-partition rows by the hub's UNIQUE out-degree — and the
  * operator results must be bit-identical either way.
  */
class GraphEdgeSkewSpec extends SparkSpec {
  private def withPrededup[A](on: Boolean)(f: => A): A = {
    spark.conf.set("spark.graft.graph.prededupEdges", on.toString)
    try f finally spark.conf.unset("spark.graft.graph.prededupEdges")
  }

  // one hub node whose 40 distinct edges are duplicated 500x each
  // (20000 skewed rows) + a sparse remainder; the weight `w` varies
  // across a hub edge's duplicates, so merging them must sum it
  private def hubEdges() = {
    import spark.implicits._
    val hub = (1 to 40).flatMap(d => (1 to 500).map(j => (0L, d.toLong, (j % 3 + 1).toLong)))
    val rest = (1 to 200).map(i => (i.toLong, (i % 97 + 1).toLong, (i % 5 + 1).toLong))
    (hub ++ rest).toDF("s", "d", "w").repartition(4)
  }

  test("pageRank identical with and without the prededup layout") {
    val e = hubEdges()
    def run(on: Boolean): Array[String] = withPrededup(on) {
      val r = Graph.pageRank(e, "s", "d", iters = 2)
        .collect().map(_.toString).sorted
      graft.core.CacheRegistry.unpersistAll()
      r
    }
    val off = run(false); val on = run(true)
    assert(off.nonEmpty && off.sameElements(on),
      "prededup layout changed pageRank output")
  }

  test("weighted pageRank identical with and without the prededup layout") {
    val e = hubEdges()
    def run(on: Boolean): Array[String] = withPrededup(on) {
      val r = Graph.pageRankWeighted(e, "s", "d", "w", iters = 2)
        .collect().map(_.toString).sorted
      graft.core.CacheRegistry.unpersistAll()
      r
    }
    val off = run(false); val on = run(true)
    assert(off.nonEmpty && off.sameElements(on),
      "prededup layout changed weighted pageRank output")
  }

  test("hopDistance identical with and without the prededup layout") {
    import spark.implicits._
    val e = hubEdges()
    val seeds = Seq(0L).toDF("n")
    def run(on: Boolean): Array[String] = withPrededup(on) {
      val r = Graph.hopDistance(e, "s", "d", seeds, "n",
        maxHops = 2).collect().map(_.toString).sorted
      graft.core.CacheRegistry.unpersistAll()
      r
    }
    assert(run(false).sameElements(run(true)),
      "prededup layout changed hopDistance output")
  }

  test("prededup plans the dedup BELOW the src repartition, spread over (src, dst)") {
    val e = hubEdges().select(col("s").as("src"), col("d").as("dst"), col("w"))
    // the dedup aggregate's exchange must key on BOTH src and dst —
    // that spread is exactly what bounds a duplicated hub's partition
    val dedupExchange =
      """hashpartitioning\(src#\d+L, dst#\d+L""".r
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "srcEdgeLayout" -> (df => Graph.srcEdgeLayout(df.drop("w"))),
      "srcWeightLayout" -> (df => Graph.srcWeightLayout(df))
    ).foreach { case (name, layout) =>
      def plan(on: Boolean): String = withPrededup(on) {
        layout(e).queryExecution.executedPlan.toString
      }
      val guarded = plan(true)
      assert(dedupExchange.findFirstIn(guarded).isDefined,
        s"$name: no (src, dst) exchange in the guarded plan:\n$guarded")
      // map-side partial aggregation before that exchange (the
      // pre-shuffle reduction that shrinks the duplicated hub)
      assert(guarded.contains("partial_first") || guarded.split("\n")
          .exists(l => l.contains("HashAggregate") && l.contains("keys=[src")),
        s"$name: no partial dedup aggregate in the guarded plan:\n$guarded")
      // the default layout is ONE exchange on src: its dedup plans onto
      // that partitioning with no (src, dst) exchange
      val default = plan(false)
      assert(dedupExchange.findFirstIn(default).isEmpty,
        s"$name: the default layout shuffles on (src, dst):\n$default")
    }
  }
}
