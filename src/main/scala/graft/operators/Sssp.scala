package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source(-set) shortest paths by synchronous
  * Bellman–Ford rounds (Bellman 1958) over an undirected weighted edge
  * list — the MIN-PLUS companion to [[Bfs.minHops]]'s hop closure:
  * BFS asks "within k hops?", this asks "how CHEAP is the cheapest
  * path?", which differs the moment edges carry costs (one strong tie
  * can beat three weak hops — the 'effective proximity' a
  * recommendation or contamination model actually wants). No reference
  * counterpart (SURVEY §2.6); north-star extension surface (X270).
  *
  * Rounds are MONOTONE (distances only decrease, min-plus is
  * idempotent), so `rounds` unrolled iterations equal the true
  * fixpoint whenever no (rounds+1)-edge path improves on a
  * ≤rounds-edge one — the X147/X152 surplus-rounds-are-no-ops
  * argument, and exactly what licenses the unrolled MATERIALIZED
  * oracle. All costs are exact integers, so there is no float
  * accumulation across relaxations.
  *
  * Scale: per round ONE equi-join of the symmetrized edge list against
  * the current distance table on the source endpoint, a unionAll, and
  * ONE min combine-agg on the node key; per-round lineage cut by
  * checkpoint (freed when the next round materializes). Unreached
  * nodes never materialize rows at all.
  *
  * TWO-REGIME (r16, the Mst/ConnectedComponents local-finish
  * discipline): when the symmetrized edge list fits one task
  * (≤ 2×`localFinishCap` rows of (long, long, long)), the `rounds`
  * synchronous relaxations run in ONE mapPartitions task — the
  * distributed loop's cost at that size is pure scheduler overhead
  * (rounds × (join + agg + checkpoint) jobs for sub-millisecond
  * relaxation work). The local replay is round-for-round identical:
  * dist_k(n) = min(dist_{k-1}(n), min over edges (a,n) of
  * dist_{k-1}(a) + w) — same synchronous schedule, same exact longs,
  * so the output table is bit-identical (SsspSpec pins it on the real
  * corpus). Above the cap the distributed rounds run unchanged.
  */
object Sssp {

  /** `edges`: (srcCol, dstCol, costCol) with integral nonnegative
    * costs; `seeds`: one column `n`. Returns (n, dist) for every node
    * reachable within `rounds` relaxations, dist = exact integer
    * min-plus distance (seeds at 0).
    *
    * `localFinishCap`: 200k input edges ≈ 9 MB of longs in-task.
    */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
      costCol: String, seeds: DataFrame, rounds: Int,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    require(rounds >= 0, s"rounds ($rounds) must be >= 0")
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(costCol).cast("long").as("w"))
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b"),
        col("w")))
      .localCheckpoint(eager = true)
    if (LocalFinish.fits("Sssp.distances", localFinishCap,
        LocalFinish.longIds(sym, "a") && LocalFinish.longIds(seeds, "n"),
        symmetric = true)(LocalFinish.rows(sym, "a", "b", "w")) &&
      LocalFinish.fits("Sssp.distances seeds", localFinishCap)(
        LocalFinish.rows(seeds, "n"))) {
      // pinned: the replay reads sym, whose blocks are freed next
      val out = localDistances(sym, seeds, rounds).localCheckpoint(eager = true)
      SuffixArray.freeCheckpoint(sym)
      return out
    }
    var dist = seeds.select(col("n"), lit(0L).as("dist"))
      .distinct().localCheckpoint(eager = true)
    (1 to rounds).foreach { _ =>
      val relaxed = sym.join(dist.withColumnRenamed("n", "a"), "a")
        .select(col("b").as("n"), (col("dist") + col("w")).as("dist"))
      val prev = dist
      dist = dist.unionAll(relaxed)
        .groupBy("n").agg(min("dist").as("dist"))
        .localCheckpoint(eager = true)
      SuffixArray.freeCheckpoint(prev)
    }
    // the final dist table is materialized; the edge blocks can go
    SuffixArray.freeCheckpoint(sym)
    dist
  }

  /** One-task synchronous Bellman–Ford: exactly `rounds` min-plus
    * relaxation rounds over the in-memory symmetric edge list — the
    * same round-limited (NOT fixpoint) semantics as the distributed
    * loop, so surplus-round behavior matches too. Long ids; the gate
    * sends null edge ids, costs or seed ids to the distributed rounds.
    */
  private def localDistances(sym: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    LocalGraph.rows(sym.select("a", "b", "w"), seeds.select("n"))
      .coalesce(1).mapPartitions { it =>
      val g = LocalGraph(it)
      var reached = new Array[Boolean](g.n)
      var dist = new Array[Long](g.n)
      g.seeds.foreach(reached(_) = true)
      (1 to rounds).foreach { _ =>
        val next = dist.clone()
        val nextReached = reached.clone()
        var i = 0
        while (i < g.m) {
          val a = g.src(i); val b = g.dst(i)
          if (reached(a)) {
            val cand = dist(a) + g.weight(i)
            if (!nextReached(b) || cand < next(b)) {
              next(b) = cand; nextReached(b) = true
            }
          }
          i += 1
        }
        dist = next
        reached = nextReached
      }
      (0 until g.n).iterator.filter(reached(_)).map(v => (g.ids(v), dist(v)))
    }.toDF("n", "dist")
  }
}
