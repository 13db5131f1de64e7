package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Jones–Plassmann greedy graph coloring ('93) with deterministic
  * md5 priorities — the conflict-free SCHEDULING primitive: a proper
  * coloring partitions a graph into independent sets, so anything
  * that mutates neighbors-in-place (dedup-cluster merges, in-place
  * graph feature updates, lock-free parameter writes) can run one
  * color class at a time, fully parallel within a class, with no
  * coordination. Luby-style symmetry breaking is THE way to color in
  * parallel: greedy sequential coloring is one vertex at a time, JP
  * colors every CURRENT LOCAL MAXIMUM simultaneously.
  *
  * Per round: a node whose md5 priority beats every UNCOLORED
  * neighbor's colors itself NOW (local maxima form an independent set
  * — two adjacent maxima would each have to beat the other — so
  * simultaneous coloring cannot conflict within the round); its color
  * is the mex of its already-colored neighbors' colors, giving the
  * classic ≤ Δ+1 bound. The mex needs no generate-series fan-out:
  * mex(S) = min of ({0} ∪ {c+1 : c ∈ S}) \ S — one union, one
  * anti-join, one combine min, all bounded by |colored neighbor|
  * rows. With random (here: keyed-md5, id-tiebroken) priorities the
  * expected round count is O(log n / log log n) (Johansson '99).
  *
  * Every step is an equi-join / anti-join / combine agg on node keys;
  * the uncolored subgraph SHRINKS monotonically (winners leave, their
  * edges leave). Rounds are data-dependent, so the materialize
  * barrier defaults to [[Iterate.cut]] (the stats-compounding rule).
  *
  * Determinism: priorities are (md5-long, id) pairs — a total order
  * any engine replays; colors then follow deterministically. Output:
  * (node, color) for every node with at least one edge.
  */
object GraphColoring {

  def jonesPlassmann(edges: DataFrame, srcCol: String, dstCol: String,
      salt: String = "jp", maxRounds: Int = 16,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    def prio(c: Column): Column = struct(
      conv(substring(md5(concat(lit(s"$salt|"), c.cast("string"))),
        1, 15), 16, 10).cast("long").as("h"),
      c.as("id"))
    val canon = Triangles.canonicalEdges(edges, srcCol, dstCol)
    val symAll = materialize(
      canon.select(col("lo").as("node"), col("hi").as("nbr"))
        .unionByName(canon.select(col("hi").as("node"), col("lo").as("nbr"))))
    val longIds = LocalFinish.longIds(symAll, "node")

    // LOCAL FINISH (the KTruss/Mst one-task discipline — valid at any
    // round): with a fixed priority order, JP is EXACTLY sequential
    // greedy coloring in decreasing (h, id) order — a node is colored
    // the round it becomes the local max, at which point its colored
    // neighbors are precisely its higher-priority neighbors plus the
    // boundary colored in earlier rounds (a lower-priority neighbor
    // can never be colored first: while v is uncolored, it blocks).
    // So once the uncolored subgraph fits one task, a sequential
    // greedy mex over (priority-sorted uncolored nodes, their edges,
    // and the colored-boundary palette) reproduces the remaining
    // rounds' colors identically. Each distributed round costs ~6
    // checkpointed jobs and rounds are Θ(clique number) (~24+ on the
    // co-order projection), so this removes >100 scheduler round trips
    // at benchmark scale (round 0 already fits).
    def localFinish(uncolP: DataFrame, eCur: DataFrame,
        boundary: DataFrame): DataFrame = {
      val spark = uncolP.sparkSession
      import spark.implicits._
      // boundary colors ride as seeds with payload -(color + 1); the
      // priorities h are nonnegative (15 hex digits)
      val seeds = uncolP.select(col("node"), col("h")).unionByName(boundary
        .select(col("node"), (-col("color") - 1).cast("long").as("h")))
      LocalGraph.rows(eCur.select("node", "nbr"), seeds)
        .coalesce(1).mapPartitions { it =>
        val g = LocalGraph(it)
        // colors already taken around each uncolored node
        val taken = Array.fill(g.n)(scala.collection.mutable.HashSet.empty[Int])
        val (prio, palette) = g.seeds.indices.partition(g.seedValue(_) >= 0)
        palette.foreach(i => taken(g.seeds(i)) += (-g.seedValue(i) - 1).toInt)
        // decreasing (h, id): the JP priority struct order. Explicit
        // comparator, NOT sortBy((-h, -id)) — negating Long.MinValue
        // overflows to itself and would diverge from the distributed
        // struct(h, id) comparison (r15 advisor).
        val order = prio.sortWith { (i, j) =>
          val (h1, h2) = (g.seedValue(i), g.seedValue(j))
          val (id1, id2) = (g.ids(g.seeds(i)), g.ids(g.seeds(j)))
          h1 > h2 || (h1 == h2 && id1 > id2)
        }
        val color = Array.fill(g.n)(-1)
        order.iterator.map { i =>
          val v = g.seeds(i)
          (g.off(v) until g.off(v + 1)).foreach { k =>
            if (color(g.nbr(k)) >= 0) taken(v) += color(g.nbr(k))
          }
          var c = 0
          while (taken(v)(c)) c += 1
          color(v) = c
          (g.ids(v), c)
        }
      }.toDF("node", "color")
    }

    var e = symAll // uncolored-subgraph edges
    var uncol = materialize(symAll.select("node").distinct())
    var colored = symAll
      .select(col("node"), lit(0).as("color")).filter(lit(false))
    var round = 0
    var done = uncol.isEmpty
    while (!done && round < maxRounds) {
      // `e` is the SYMMETRIC edge list (2 rows per edge)
      if (LocalFinish.fits("GraphColoring.jonesPlassmann nodes",
            localFinishCap, longIds)(uncol.count()) &&
          LocalFinish.fits("GraphColoring.jonesPlassmann edges",
            localFinishCap, longIds, symmetric = true)(e.count())) {
        val boundary = uncol
          .join(symAll, "node")
          .join(colored.select(col("node").as("_n2"), col("color")),
            col("nbr") === col("_n2"))
          .select(col("node"), col("color")).distinct()
        return colored.unionByName(
          localFinish(uncol.select(col("node"), prio(col("node"))("h")
            .as("h")), e, boundary))
      }
      val nbrMax = e.groupBy("node").agg(max(prio(col("nbr"))).as("mp"))
      val winners = materialize(uncol
        .join(nbrMax, Seq("node"), "left")
        .filter(col("mp").isNull || prio(col("node")) > col("mp"))
        .select("node"))
      // already-colored neighbor colors in the ORIGINAL graph
      val used = materialize(winners
        .join(symAll, "node")
        .join(colored.select(col("node").as("_n2"), col("color")),
          col("nbr") === col("_n2"))
        .select(col("node"), col("color")).distinct())
      val mex = winners.select(col("node"), lit(0).as("cand"))
        .unionByName(used.select(col("node"),
          (col("color") + 1).as("cand")))
        .join(used.select(col("node"), col("color").as("cand")),
          Seq("node", "cand"), "left_anti")
        .groupBy("node").agg(min("cand").as("color"))
      colored = materialize(colored.unionByName(mex))
      uncol = materialize(uncol.join(winners, Seq("node"), "left_anti"))
      e = materialize(e
        .join(winners, Seq("node"), "left_anti")
        .join(winners.select(col("node").as("nbr")), Seq("nbr"),
          "left_anti"))
      done = uncol.isEmpty
      round += 1
    }
    require(done, s"jonesPlassmann did not converge within $maxRounds " +
      "rounds — raise maxRounds (expected O(log n / log log n))")
    colored
  }
}
