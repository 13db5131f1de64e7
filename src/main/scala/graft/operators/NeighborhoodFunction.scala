package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled-source neighborhood function N(r) — the ANF/HyperANF
  * readout (Palmer et al. KDD'02; Boldi–Vigna WWW'11): how many nodes
  * are within r hops, and the EFFECTIVE DIAMETER (smallest r reaching
  * ≥90% of everything reachable). The connectivity-radius profile a
  * crawl/link/co-occurrence graph gets audited by before anyone trusts
  * random-walk features computed on it.
  *
  * Exact BFS from a deterministic SAMPLE of sources (the X294
  * sampled-source discipline): per hop, the frontier expands by one
  * equi-join against the symmetric edge list and an anti-join against
  * the visited set — per-source state is exact (src, node) pairs, so
  * the counts are exact for the sampled sources, and the hop count is
  * a fixed small bound (profiles flatten within single-digit hops on
  * anything small-world). At 100 TB the sketch path swaps the exact
  * per-source sets for HyperLogLog registers unioned per hop
  * (HyperANF) — same loop shape, O(|V|) state instead of O(S·|V|);
  * exact sampled sets are the oracle-checkable form and the standard
  * baseline the sketch is validated against.
  *
  * TWO-REGIME (r16): when the symmetric edge list fits one task
  * (≤ 2×`localFinishCap` rows of long pairs), the per-source BFS runs
  * in ONE mapPartitions task emitting the same per-hop fresh counts —
  * at that size the distributed loop was maxHops × (join + distinct +
  * anti-join + two checkpoints + a count agg) of scheduler overhead.
  * The edge list is otherwise pinned ONCE up front (it is referenced
  * by every hop's join; a lazy projection pipeline would re-execute
  * per hop). NeighborhoodFunctionSpec pins local == distributed.
  *
  * Output, one row per hop r = 0..maxHops: reached = Σ_src |N(src,r)|
  * (hop 0 counts the sources themselves), newly = the hop's fresh
  * pairs, reaches90 = reached·10 ≥ 9·reached(maxHops) — the first
  * true row IS the sampled effective diameter. All integers; no
  * engine-divergent arithmetic anywhere.
  */
object NeighborhoodFunction {

  def sample(sym: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 5,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    require(maxHops >= 1, s"maxHops ($maxHops) must be >= 1")
    val e = sym.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .localCheckpoint(eager = true)
    val counts: DataFrame =
      if (LocalFinish.fits("NeighborhoodFunction.sample", localFinishCap,
          LocalFinish.longIds(e, "_a") && LocalFinish.longIds(seeds, seedCol),
          symmetric = true)(LocalFinish.rows(e, "_a", "_b")) &&
        LocalFinish.fits("NeighborhoodFunction.sample seeds", localFinishCap)(
          LocalFinish.rows(seeds, seedCol)))
        localCounts(e, seeds, seedCol, maxHops)
      else {
        var frontier = seeds.select(col(seedCol).as("src")).distinct()
          .select(col("src"), col("src").as("node"))
          .localCheckpoint(eager = true)
        // visited stays ONE pinned leaf per hop: an unpinned union of k
        // frontier leaves costs k scans+exchanges in every anti-join and
        // measured SLOWER (9.0 s vs 7.4 s at sf0.1) than re-pinning
        var visited = frontier

        // one 1-row agg per hop (the fresh count); reached is its running
        // sum, the final total its grand sum — nothing re-counts `visited`
        val parts = ArrayBuffer.empty[DataFrame]
        def row(hop: Int, fresh: DataFrame): DataFrame =
          fresh.agg(count(lit(1)).as("newly")).select(lit(hop).as("hop"),
            col("newly"))
        parts += row(0, frontier)

        for (r <- 1 to maxHops) {
          val nxt = frontier.join(e, col("node") === col("_a"))
            .select(col("src"), col("_b").as("node")).distinct()
            .join(visited, Seq("src", "node"), "left_anti")
            .localCheckpoint(eager = true)
          visited = visited.unionByName(nxt).localCheckpoint(eager = true)
          frontier = nxt
          parts += row(r, nxt)
        }
        parts.reduce(_ unionByName _)
      }
    val w = org.apache.spark.sql.expressions.Window.orderBy("hop")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // maxHops+1 rows total: the single-partition windows are metadata
    counts
      .select(col("hop"), sum("newly").over(w).as("reached"),
        col("newly"), sum("newly").over(wAll).as("_fin"))
      .select(col("hop"), col("reached"), col("newly"),
        (col("reached") * 10 >= col("_fin") * 9).as("reaches90"))
      .orderBy("hop")
  }

  /** One-task per-source BFS emitting the identical (hop, newly) rows:
    * hop 0 = |distinct seeds|, hop r = Σ_src |fresh(src, r)|. */
  private def localCounts(e: DataFrame, seeds: DataFrame,
      seedCol: String, maxHops: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    LocalGraph.rows(e, seeds.select(seedCol)).coalesce(1).mapPartitions { it =>
      val g = LocalGraph(it)
      val srcs = g.seeds.distinct // distinct, as distributed
      val newly = new Array[Long](maxHops + 1)
      newly(0) = srcs.length.toLong
      val visited = new Array[Boolean](g.n)
      srcs.foreach { s =>
        val seen = ArrayBuffer(s) // BFS order
        visited(s) = true
        var from = 0
        var r = 1
        while (r <= maxHops && from < seen.length) {
          val to = seen.length
          (from until to).foreach { i =>
            val u = seen(i)
            (g.off(u) until g.off(u + 1)).foreach { k =>
              val v = g.nbr(k)
              if (!visited(v)) { visited(v) = true; seen += v }
            }
          }
          newly(r) += (seen.length - to).toLong
          from = to
          r += 1
        }
        seen.foreach(visited(_) = false)
      }
      (0 to maxHops).iterator.map(r => (r, newly(r)))
    }.toDF("hop", "newly")
  }
}
