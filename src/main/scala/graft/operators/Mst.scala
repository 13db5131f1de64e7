package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning FOREST by Borůvka rounds with edge-list
  * contraction (Borůvka 1926; the distributed formulation of the
  * MST-in-MapReduce literature, e.g. Lattanzi et al. SPAA'11) — the
  * single-linkage clustering backbone: cutting the forest's heaviest
  * edges yields exactly the single-linkage dendrogram levels, which is
  * how a dedup/curation pipeline turns a near-dup proximity graph into
  * clusters with a controllable merge threshold.
  *
  * Why Borůvka and not Prim/Kruskal: both classics are inherently
  * sequential (one frontier edge at a time / one globally-sorted edge
  * stream through a union–find). Borůvka is the parallel one — EVERY
  * live component picks its minimum incident edge simultaneously, the
  * picked edges merge components, and the component count at least
  * HALVES per round, so ⌈log₂ V⌉ rounds suffice regardless of shape.
  *
  * The loop carries the CONTRACTED edge list only — each edge keyed by
  * its endpoints' current component ids, with the original (lo, hi)
  * kept as payload. That buys three things over the keep-a-vertex-
  * label-table formulation: (1) no per-round join against a |V|-sized
  * label table — the relabel join runs against the component-count-
  * sized contraction map, which halves every round; (2) parallel edges
  * between the same component pair collapse to their minimum (the
  * standard contraction lemma: in the contracted multigraph they form
  * a 2-cycle, so the heavier can never be in the MST), shrinking the
  * carried edge list monotonically; (3) convergence is simply "the
  * contracted edge list is empty" — no separate probe.
  *
  * Per round: one explode+combine-min for the per-component minimum
  * edge (no window, no sort), then contraction of the merge graph.
  * The merge graph is FUNCTIONAL — every component points at exactly
  * one partner (its min edge's other side) — and under a lexicographic
  * total order its only cycles are the mutual-minimum 2-cycles
  * (weights are non-increasing along any pointer walk, so a longer
  * cycle would repeat an edge). Rooting the smaller member of each
  * 2-cycle and POINTER JUMPING (f ← f∘f, one component-sized self-join
  * per step, ⌈log₂ depth⌉ steps) resolves every component to its root
  * — cheaper than a general CC routine because the pseudoforest
  * structure is known.
  *
  * Determinism: ties break by the lexicographic total order
  * (w, lo, hi) — equivalent to strictly-distinct perturbed weights, so
  * the forest is unique and any engine replaying the same semantics
  * (the DuckDB oracle unrolls label-table rounds — same partition, same
  * minima) produces the identical edge set.
  *
  * Contract: edges are undirected; (lo, hi) is canonicalized and input
  * parallel edges collapse to their minimum weight. Weights must be
  * INTEGER-VALUED (they are carried as long — the exact total order
  * the determinism story needs); a fractional weight raises loudly at
  * scan time rather than silently truncating to the integer grid and
  * mis-ranking edges that differ only below it. Pre-quantize real
  * weights upstream (the callers pass squared distances / micro-units).
  * Output: the forest edge list (lo, hi, w) — |V| − #components rows.
  * Isolated vertices (no incident edge) contribute nothing, like the
  * CC operators.
  */
object Mst {

  def boruvka(edges: DataFrame, loCol: String, hiCol: String,
      wCol: String, maxRounds: Int = 16,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    // canonical undirected edges keyed by their (initially trivial)
    // component ids; parallel edges -> min weight
    var e = materialize(
      edges.select(
        least(col(loCol), col(hiCol)).as("lo"),
        greatest(col(loCol), col(hiCol)).as("hi"),
        // integer-weight contract enforced loudly: decimal(38,6)
        // compare is exact where a double one is lossy on big longs
        when(col(wCol).cast("decimal(38,6)") =!=
            col(wCol).cast("long").cast("decimal(38,6)"),
          raise_error(concat(lit("Mst.boruvka: non-integer weight "),
            col(wCol).cast("string"),
            lit(" — pre-quantize to an integer grid"))))
          .otherwise(col(wCol).cast("long")).as("w"))
        .filter(col("lo") =!= col("hi"))
        .groupBy("lo", "hi").agg(min("w").as("w"))
        .select(col("lo").as("clo"), col("hi").as("chi"),
          col("lo"), col("hi"), col("w")))

    // TWO-REGIME (the KTruss localFinish discipline): distributed
    // Borůvka rounds only while the carried CONTRACTED edge list is
    // large; once it fits one task (≤ localFinishCap rows — it at
    // least halves per round, so this always triggers at bounded
    // depth), finish with a single-task Kruskal over the contracted
    // edges. Identical output by the uniqueness argument above: the
    // strict total order (w, lo, hi) — (lo, hi) is unique per payload
    // edge — makes the remaining forest unique, so ANY correct MSF
    // algorithm on the contracted multigraph returns the same edge
    // set the remaining Borůvka rounds would. Each distributed round
    // costs ~6 jobs (min-edge agg, contraction joins, pointer-jump
    // iterations each with a convergence action); at benchmark scale
    // the whole forest fits the cap and ZERO distributed rounds run.
    // The fast path needs long ids (callers pass long vec_ids);
    // other id types keep the pure distributed loop.
    val longIds = LocalFinish.longIds(e, "lo", "hi")
    def fits(n: Long) =
      n > 0 && LocalFinish.fits("Mst.boruvka", localFinishCap, longIds)(n)

    val parts = ArrayBuffer.empty[DataFrame]
    var round = 0
    var n = e.count()
    var local = fits(n)
    while (n > 0 && !local && round < maxRounds) {
      // each live component's minimum incident edge under (w, lo, hi)
      // — both directions in ONE pass (explode), then a combine min
      val minE = materialize(e
        .select(explode(array(
          struct(col("clo").as("comp"), col("w"), col("lo"), col("hi"),
            col("chi").as("oc")),
          struct(col("chi").as("comp"), col("w"), col("lo"), col("hi"),
            col("clo").as("oc")))).as("i"))
        .select(col("i.comp").as("comp"),
          struct(col("i.w"), col("i.lo"), col("i.hi"), col("i.oc")).as("x"))
        .groupBy("comp").agg(min(col("x")).as("m"))
        .select(col("comp"), col("m.w").as("w"), col("m.lo").as("lo"),
          col("m.hi").as("hi"), col("m.oc").as("oc")))
      // the same edge may be both endpoints' minimum — one copy
      parts += minE.select("lo", "hi", "w").distinct()

      // contraction map: root each mutual-minimum 2-cycle at its
      // smaller member, then pointer-jump the trees onto the roots
      var f = materialize(minE.select(col("comp"), col("oc"))
        .join(minE.select(col("comp").as("oc"), col("oc").as("oc2")), "oc")
        .select(col("comp"),
          when(col("oc2") === col("comp") && col("comp") < col("oc"),
            col("comp")).otherwise(col("oc")).as("p")))
      var jumped = false
      var jIter = 0
      while (!jumped) {
        require(jIter < 34,
          "pointer jumping did not converge — merge forest malformed")
        val j = materialize(f
          .join(f.select(col("comp").as("p"), col("p").as("p2")), "p")
          .select(col("comp"), col("p"), col("p2")))
        jumped = j.filter(col("p2") =!= col("p")).limit(1).isEmpty
        f = j.select(col("comp"), col("p2").as("p"))
        jIter += 1
      }

      // relabel the carried edges to the merged components, drop the
      // now-internal ones, and prune parallel edges to their minimum
      e = materialize(e
        .join(f.select(col("comp").as("clo"), col("p").as("nlo")), "clo")
        .join(f.select(col("comp").as("chi"), col("p").as("nhi")), "chi")
        .filter(col("nlo") =!= col("nhi"))
        .select(least(col("nlo"), col("nhi")).as("clo"),
          greatest(col("nlo"), col("nhi")).as("chi"),
          struct(col("w"), col("lo"), col("hi")).as("x"))
        .groupBy("clo", "chi").agg(min(col("x")).as("m"))
        .select(col("clo"), col("chi"), col("m.lo").as("lo"),
          col("m.hi").as("hi"), col("m.w").as("w")))
      n = e.count()
      local = fits(n)
      round += 1
    }
    require(n == 0 || local, s"boruvka did not converge within $maxRounds rounds")
    if (local) parts += localKruskal(e)

    if (parts.isEmpty)
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        e.select("lo", "hi", "w").schema)
    else parts.reduce(_ unionByName _)
  }

  /** One-task sequential Kruskal over the CONTRACTED edge list
    * (clo, chi, lo, hi, w): edges sorted by the (w, lo, hi) total
    * order stream through a union–find on the component ids; an edge
    * whose components differ is accepted and emitted with its
    * ORIGINAL endpoints (lo, hi, w). Equal to the remaining Borůvka
    * rounds because the strict total order makes the forest unique.
    * Array-backed union–find with path halving — no boxing on the
    * merge path; ≤ localFinishCap edges fit one task trivially.
    */
  private[graft] def localKruskal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("clo"), col("chi"), col("lo"), col("hi"), col("w"))
      .as[(Long, Long, Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray.sortBy(t => (t._5, t._3, t._4))
        // components as dense ids; edge k is edges(k)
        val g = LocalGraph(edges.iterator.map(t => (1, t._1, t._2, 0L)))
        val parent = Array.range(0, g.n)
        def find(i0: Int): Int = {
          var i = i0
          while (parent(i) != i) {
            parent(i) = parent(parent(i)); i = parent(i)
          }
          i
        }
        val out = ArrayBuffer.empty[(Long, Long, Long)]
        var k = 0
        while (k < edges.length) {
          val t = edges(k)
          val ra = find(g.src(k)); val rb = find(g.dst(k))
          if (ra != rb) { parent(ra) = rb; out += ((t._3, t._4, t._5)) }
          k += 1
        }
        out.iterator
      }
      .toDF("lo", "hi", "w")
  }
}
