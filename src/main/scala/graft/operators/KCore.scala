package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the graph-cleaning step
  * between pair detection (X3/X46) and clustering: the k-core is the
  * maximal subgraph where every node keeps degree ≥ k, the standard
  * filter for "dense duplicate clusters / co-engagement cliques worth
  * acting on" as opposed to incidental pairs. No reference counterpart
  * (SURVEY §2.6); north-star extension surface.
  *
  * Semantics: repeatedly delete nodes of degree < k (with the edges
  * they carry) until none remain. The loop is a MONOTONE fixpoint —
  * each round only removes, and once a round removes nothing the
  * subgraph is stable forever — which is what licenses the oracle: a
  * DuckDB query with R unrolled peel rounds equals the true fixpoint
  * whenever convergence takes ≤ R rounds (extra rounds are no-ops);
  * too-small an R fails the hash gate loudly.
  *
  * Scale (the CC playbook, X51): each round is one combine-style
  * degree aggregate (map-side partial, |nodes| keys) plus two
  * broadcast-or-shuffle semi-joins pruning the edge list — no windows,
  * no collects; the edge list only shrinks. Rounds are bounded by the
  * peel depth (≤ |V| pathologically, small double digits on real
  * graphs); per-round lineage is cut with localCheckpoint exactly like
  * ConnectedComponents. Output: surviving nodes with their degree
  * INSIDE the core (≥ k by construction).
  */
object KCore {

  /** Edges are undirected, (srcCol, dstCol), self-loops and duplicate
    * pairs assumed pre-removed by the caller. Returns (node, core_deg).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 50): DataFrame = {
    val e = coreEdges(edges, srcCol, dstCol, k, maxRounds)
    e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_deg"))
  }

  /** The EDGE set of the k-core — the induced subgraph the peel
    * converges to. Exposed for consumers that keep working on edges
    * (KTruss pre-peels with it: truss ⊆ (k−1)-core, and the degree
    * peel is triangle-free — far cheaper than a wedge pass over
    * doomed edges). Returns (a, b) in the caller's orientation.
    */
  def coreEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 50,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    var e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint()
    // carry the edge count across rounds: one count action per round,
    // not a before/after pair (the fixpoint test only needs the delta)
    var prevCount = e.count()
    // LOCAL FINISH (r16, the CC/Mst discipline): the peel is a
    // CONFLUENT monotone fixpoint (supports only decrease; any
    // deletion order converges to the same unique maximal subgraph),
    // so once the edge list fits one task a sequential decrement-queue
    // peel is bit-identical to the remaining synchronous rounds — and
    // at that size each distributed round was one degree agg + two
    // semi-joins + checkpoint + count of pure scheduler overhead.
    // Valid at ANY round for the same reason (the r15 KTruss
    // argument); here the input is already counted, so the gate is
    // free.
    val supported = LocalFinish.keyIds(e, "a", "b")
    if (LocalFinish.fits("KCore.coreEdges", localFinishCap, supported)(prevCount))
      return localCoreEdges(e, k)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val deg = e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      val pruned = e
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val after = pruned.count()
      e = pruned
      done = after == prevCount
      prevCount = after
      rounds += 1
      if (!done &&
          LocalFinish.fits("KCore.coreEdges", localFinishCap, supported)(after))
        return localCoreEdges(e, k)
    }
    e
  }

  /** One-task sequential peel to the unique k-core edge set. Null-
    * endpoint edges are dropped up front: the distributed rounds drop
    * them in round 1 (an equi-join on a null key never matches), and
    * their one-round degree inflation cannot change the fixpoint — a
    * node kept one extra round is re-evaluated against honest degrees
    * before anything depends on it, and the k-core of the non-null
    * edge set is unique. Surviving INPUT ROWS are emitted as-is, the
    * same multiset the distributed semi-joins keep.
    */
  private def localCoreEdges(e: DataFrame, k: Int): DataFrame = {
    e.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val live = it.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).toArray
      val deg = mutable.HashMap.empty[Any, Long]
      val adjIdx = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Int]]
      live.zipWithIndex.foreach { case (r, i) =>
        val a = r.get(0); val b = r.get(1)
        deg(a) = deg.getOrElse(a, 0L) + 1
        deg(b) = deg.getOrElse(b, 0L) + 1
        adjIdx.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += i
        adjIdx.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += i
      }
      val alive = Array.fill(live.length)(true)
      val removed = mutable.HashSet.empty[Any]
      val queue = mutable.Queue.empty[Any]
      deg.foreach { case (n, d) => if (d < k) queue.enqueue(n) }
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        if (!removed.contains(n)) {
          removed += n
          adjIdx.getOrElse(n, mutable.ArrayBuffer.empty).foreach { i =>
            if (alive(i)) {
              alive(i) = false
              val r = live(i)
              val other = if (r.get(0) == n) r.get(1) else r.get(0)
              val d = deg(other) - 1
              deg(other) = d
              if (d < k && !removed.contains(other)) queue.enqueue(other)
            }
          }
        }
      }
      live.iterator.zipWithIndex.collect { case (r, i) if alive(i) => r }
    }(org.apache.spark.sql.Encoders.row(e.schema))
  }
}
