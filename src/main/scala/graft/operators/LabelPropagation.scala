package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection over a weighted undirected graph, the cheap first-pass
  * community structure a curation run reads over co-occurrence graphs
  * (co-ordered items, co-engaged users) where connected components
  * (X51) are too coarse: CC merges everything reachable; LPA splits a
  * component along its weighted density structure.
  *
  * Determinism discipline: SYNCHRONOUS rounds (every node updates from
  * the same previous-round labels — asynchronous LPA is
  * execution-order-dependent and can never hash-match an oracle), a
  * FIXED round count, and a total tie order: each node adopts the label
  * with the max incident-WEIGHT vote, ties broken toward the SMALLEST
  * label. The argmax is `max(struct(vote_weight, -label))` — a
  * combine-friendly aggregate (partial max runs map-side), not a window
  * sort, so each round costs exactly two exchanges: (node, label) vote
  * sum, then (node) argmax. Labels start as node ids; synchronous LPA
  * on near-bipartite regions can oscillate, which a fixed round count
  * reports honestly (round r is a pure function of the graph).
  *
  * Scale shape: per round, work is O(|edges|) vote rows with map-side
  * combine; the label table is O(|nodes|); nothing quadratic, nothing
  * driver-side. The symmetric edge table is materialized once and
  * reused by every round.
  */
object LabelPropagation {

  /** @param edges undirected weighted edges (aCol, bCol, wCol), each
    *              pair listed once
    * @return (node, label) after `rounds` synchronous rounds
    */
  def communities(edges: DataFrame, aCol: String, bCol: String,
      wCol: String, rounds: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val sym = materialize(
      edges.select(col(aCol).as("n"), col(bCol).as("m"), col(wCol).as("w"))
        .unionAll(
          edges.select(col(bCol).as("n"), col(aCol).as("m"), col(wCol).as("w"))))
    // LOCAL FINISH (the KTruss/Mst one-task discipline): the rounds
    // are a pure synchronous function of the weighted graph — argmax
    // vote weight, ties to the smallest label, labels init to node
    // ids — so a one-task replay over exact Long arithmetic produces
    // the identical round-r labels without 2 exchanges + checkpoint
    // per round. Gate: long ids + long weights, edge rows fit a task.
    if (LocalFinish.fits("LabelPropagation.communities", localFinishCap,
        LocalFinish.longIds(sym, "n", "w"), symmetric = true)(
        LocalFinish.rows(sym, "n", "m", "w"))) {
      val spark = sym.sparkSession
      import spark.implicits._
      // materialized: consumers (e.g. modularity) join the label
      // table several times — without the barrier each consumer
      // re-runs the one-task replay
      return materialize(LocalGraph.rows(sym).coalesce(1).mapPartitions { it =>
        import scala.collection.mutable
        val g = LocalGraph(it)
        val nv = g.n
        var lbl = g.ids.clone()
        var r = 0
        while (r < rounds) {
          // per-node (label -> vote weight), then argmax with ties
          // to the SMALLEST label — exactly max(struct(vw, -lbl))
          val votes = Array.fill(nv)(mutable.LongMap.empty[Long])
          var i = 0
          while (i < g.m) {
            val v = votes(g.src(i))
            val l = lbl(g.dst(i))
            v(l) = v.getOrElse(l, 0L) + g.weight(i)
            i += 1
          }
          val next = new Array[Long](nv)
          i = 0
          while (i < nv) {
            var bestW = Long.MinValue
            var bestL = Long.MaxValue
            votes(i).foreach { case (l, w) =>
              if (w > bestW || (w == bestW && l < bestL)) {
                bestW = w; bestL = l
              }
            }
            // nodes appear in sym iff they have an edge, so votes(i)
            // is never empty (self voted only via neighbors, as in
            // the join form)
            next(i) = bestL
            i += 1
          }
          lbl = next
          r += 1
        }
        (0 until nv).iterator.map(i => (g.ids(i), lbl(i)))
      }.toDF("n", "lbl"))
    }
    var labels = materialize(
      sym.select(col("n")).distinct().select(col("n"), col("n").as("lbl")))
    (1 to rounds).foreach { _ =>
      labels = materialize(
        sym.join(labels.withColumnRenamed("n", "m"), "m")
          .groupBy("n", "lbl").agg(sum("w").as("vw"))
          .groupBy("n")
          .agg(max(struct(col("vw"), (-col("lbl")).as("neg"))).as("best"))
          .select(col("n"), (-col("best.neg")).as("lbl")))
    }
    labels
  }
}
