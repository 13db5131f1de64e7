package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.TextOps

/** Sampled-source betweenness centrality (X294; Brandes J. Math.
  * Sociol. 2001, the sampling estimator of Brandes & Pich 2007) — the
  * "which nodes do shortest paths FLOW THROUGH" readout the graph
  * family lacked: PageRank/HITS rank by link endorsement, k-core by
  * local density; betweenness finds the BROKERS whose removal
  * disconnects flows — the co-purchase graph's gateway items.
  *
  * Exact Brandes per sampled source, bounded-hop:
  *  - forward: BFS levels 1..`levels` with shortest-path counts σ
  *    (σ(v) = Σ σ(u) over distance-(d−1) predecessors — exact integer
  *    sums; a node joins the level frontier only if unseen, via
  *    left_anti against the accumulated visited set);
  *  - backward: dependency accumulation by DECREASING level,
  *    δ(v) = Σ_w ⌊σ(v)·(10⁶ + δ(w)) / σ(w)⌋ over BFS-DAG successors
  *    w — each edge term quantized once (the X61 order-free rule;
  *    all operands nonnegative, [[TextOps.floorDivDec]] ≡ DuckDB
  *    `//`), so the sum is an exact integer regardless of evaluation
  *    order; products route through decimal(38,0);
  *  - bc(v) = Σ over sources of δ_s(v), v ≠ s, in micro path units.
  *
  * Truncation is the documented estimator choice: `levels` bounds the
  * hop horizon (paths longer than `levels` contribute nothing — the
  * bounded-diameter variant used on small-world graphs where ≥95% of
  * pairs sit within a few hops), and `sources` samples the outer sum.
  * Both are the standard scale knobs; exact all-sources all-hops
  * Brandes is O(nm) and never acceptable at corpus scale.
  *
  * Scale: each forward level is one frontier×edges equi-join + one
  * (src, node)-keyed combine agg + one anti-join; the BFS-DAG
  * adjacency is two vis equi-joins filtered to d+1; each backward
  * level is one equi-join + combine agg. Everything is keyed by
  * (source, node) — |sources|×|reached| bounded, partition-parallel.
  * Every level is checkpointed (each feeds two consumers). The edge
  * list itself is pinned ONCE up front (r16): it is referenced by
  * every forward level and by the DAG build, and a lazy projection
  * pipeline would re-execute per reference.
  *
  * TWO-REGIME (r16, the Mst/CC local-finish discipline): when the
  * symmetric edge list fits one task (≤ 2×`localFinishCap` rows of
  * long pairs), the whole estimator — per-source BFS, σ, backward δ
  * with the identical per-edge floor quantization, the v ≠ s filter,
  * and the (bc desc, node) top-K — runs in ONE mapPartitions task.
  * At that size the distributed loop is pure scheduler overhead:
  * 2×levels+2 checkpointed sub-second jobs. BetweennessSpec pins
  * local == distributed on a cyclic multi-component graph.
  */
object Betweenness {

  private def dec(x: org.apache.spark.sql.Column) = x.cast("decimal(38,0)")

  /** `sources` must carry the seed node ids in a column named `n`. */
  def approx(symEdges: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, levels: Int, topK: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    require(levels >= 1, s"levels ($levels) must be >= 1")
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val sym = materialize(
      symEdges.select(col(aCol).as("a"), col(bCol).as("b")))
    if (LocalFinish.fits("Betweenness.approx", localFinishCap,
        LocalFinish.longIds(sym, "a") && LocalFinish.longIds(sources, "n"),
        symmetric = true)(LocalFinish.rows(sym, "a", "b")) &&
      LocalFinish.fits("Betweenness.approx sources", localFinishCap)(
        LocalFinish.rows(sources, "n")))
      return localApprox(sym, sources, levels, topK)
    var vis = materialize(sources.select(col("n").as("src"), col("n"),
      lit(0).as("d"), lit(1L).as("sigma")))
    var frontier = vis
    (1 to levels).foreach { l =>
      frontier = materialize(frontier
        .join(sym.withColumnRenamed("a", "n"), "n")
        .select(col("src"), col("b").as("n"), col("sigma"))
        .groupBy("src", "n").agg(sum("sigma").as("sigma"))
        .join(vis.select("src", "n"), Seq("src", "n"), "left_anti")
        .select(col("src"), col("n"), lit(l).as("d"), col("sigma")))
      vis = materialize(vis.unionByName(frontier))
    }
    val adj = materialize(vis
      .select(col("src"), col("n").as("v"), col("d").as("dv"),
        col("sigma").as("sv"))
      .join(sym.select(col("a").as("v"), col("b").as("w")), "v")
      .join(vis.select(col("src"), col("n").as("w"), col("d").as("dw"),
        col("sigma").as("sw")), Seq("src", "w"))
      .filter(col("dw") === col("dv") + 1))
    var deltas: DataFrame = null // (src, n, delta) for levels already done
    ((levels - 1) to 0 by -1).foreach { l =>
      val withSucc = {
        val base = adj.filter(col("dv") === l)
        val looked =
          if (deltas == null) base.withColumn("_dw", lit(0L))
          else base.join(deltas.select(col("src"), col("w"),
              col("delta").as("_dw")), Seq("src", "w"), "left")
            .withColumn("_dw", coalesce(col("_dw"), lit(0L)))
        looked
          .withColumn("_t", TextOps.floorDivDec(
            dec(col("sv")) * dec(lit(1000000L) + col("_dw")),
            dec(col("sw"))).cast("long"))
          .groupBy("src", "v").agg(sum("_t").as("delta"))
          .select(col("src"), col("v").as("w"), col("delta"))
      }
      deltas = materialize(
        if (deltas == null) withSucc else deltas.unionByName(withSucc))
    }
    // levels >= 1 guarantees the backward loop ran at least once, so
    // deltas is always bound here
    deltas.filter(col("w") =!= col("src"))
      .groupBy(col("w").as("node"))
      .agg(sum("delta").as("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node"))
      .limit(topK)
  }

  /** One-task replay of the exact estimator above: same synchronous
    * BFS levels, same σ accumulation over edge-row OCCURRENCES, same
    * per-DAG-edge floor quantization (Long fast path, BigInt above
    * the overflow guard — both compute the identical mathematical
    * floor on nonnegative operands), same "only nodes with ≥1 DAG
    * successor get a δ row" output membership, same v ≠ s filter and
    * (bc desc, node) top-K.
    */
  private def localApprox(sym: DataFrame, sources: DataFrame,
      levels: Int, topK: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    LocalGraph.rows(sym.select("a", "b"), sources.select("n"))
      .coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val g = LocalGraph(it)
      // exact floor(sv * (1e6 + dw) / sw), nonneg operands; Long fast
      // path while the product provably fits, BigInt beyond
      def term(sv: Long, dw: Long, sw: Long): Long = {
        val f = 1000000L + dw
        if (sv <= 3000000000L && f <= 3000000000L) sv * f / sw
        else (BigInt(sv) * BigInt(f) / BigInt(sw)).toLong
      }
      val bc = new Array[Long](g.n)
      val hasBc = new Array[Boolean](g.n) // ≥ 1 delta row with v != src
      val level = Array.fill(g.n)(-1)
      val sigma = new Array[Long](g.n)
      val delta = new Array[Long](g.n)
      g.seeds.foreach { s =>
        // BFS order: levels never decrease along it
        val seen = mutable.ArrayBuffer(s)
        level(s) = 0; sigma(s) = 1L
        var from = 0
        var l = 1
        while (l <= levels && from < seen.length) {
          val to = seen.length
          (from until to).foreach { i =>
            val u = seen(i)
            (g.off(u) until g.off(u + 1)).foreach { k =>
              val v = g.nbr(k)
              if (level(v) == -1) { level(v) = l; seen += v }
              if (level(v) == l) sigma(v) += sigma(u)
            }
          }
          from = to
          l += 1
        }
        // backward by decreasing level over DAG-edge occurrences
        seen.reverseIterator.filter(level(_) < levels).foreach { v =>
          var sum = 0L
          var has = false
          (g.off(v) until g.off(v + 1)).foreach { k =>
            val w = g.nbr(k)
            if (level(w) == level(v) + 1) {
              has = true
              sum += term(sigma(v), delta(w), sigma(w))
            }
          }
          if (has) {
            delta(v) = sum
            if (v != s) { bc(v) += sum; hasBc(v) = true }
          }
        }
        seen.foreach { v => level(v) = -1; sigma(v) = 0L; delta(v) = 0L }
      }
      (0 until g.n).filter(hasBc).map(v => (g.ids(v), bc(v)))
        .sortWith { case ((n1, b1), (n2, b2)) =>
          b1 > b2 || (b1 == b2 && n1 < n2)
        }.take(topK).iterator
    }.toDF("node", "bc_micro")
      .orderBy(col("bc_micro").desc, col("node"))
  }
}
