package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED edge list by iterative
  * forward–backward coloring (the Orzan coloring step of FB-SCC;
  * Fleischer/Hendrickson/Pınar's divide-and-conquer made dataflow-
  * parallel) — the directed closure the graph family still lacked:
  * [[ConnectedComponents]] answers "touching at all" on the
  * UNDIRECTED view, which conflates a citation loop with a one-way
  * chain; SCC separates genuine cycles (mutual reachability — link
  * rings, mutual-reference clusters, retry loops in event graphs)
  * from mere reachability.
  *
  * One outer round over the unassigned subgraph:
  *  1. forward-min to fixpoint: F(v) = min{u : u →* v} via the exact
  *     per-round shape of [[ConnectedComponents.labelPropagation]]
  *     (edge⋈label equi-join + partial-combine min; label flows WITH
  *     edge direction only);
  *  2. roots r (F(r) = r) seed a BACKWARD flag restricted to edges
  *     whose endpoints share a color (F equal): v is flagged iff it
  *     reaches its color's root in-class. The classical lemma makes
  *     the combination exact — v ∈ SCC(r) ⟺ F(v) = r ∧ v →* r, and
  *     every such witness path stays inside color r (any vertex on it
  *     is itself mutually reachable with r);
  *  3. flagged nodes are assigned scc = F(v) and removed; the rest
  *     iterate (each round settles every color's root SCC, so rounds
  *     = the graph's "SCC peel depth", small for link-shaped graphs;
  *     `maxOuter` bounds it loudly).
  *
  * Every step is equi-joins + combine aggregations over (id, label)
  * rows — no adjacency lists, no driver graph state; per-round
  * results are checkpointed (the X51 iterative-lineage rule) and
  * convergence probes are `limit(1)` scans, not counts. Labels are
  * min node ids — no ties, no floats — so the fixpoint is engine-
  * independent and the DuckDB oracle recomputes it from the mutual-
  * reachability closure directly.
  *
  * Output: (id, scc) for every node, scc = min id of the component.
  */
object Scc {

  def components(edges: DataFrame, nodes: DataFrame,
      maxOuter: Int = 10, maxInner: Int = 50,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {

    def fixpointMin(e: DataFrame, init: DataFrame): DataFrame = {
      var f = init
      var iter = 0
      var done = f.isEmpty
      while (!done && iter < maxInner) {
        val inc = e.join(f.select(col("id").as("src"), col("f").as("_fs")),
            "src")
          .groupBy(col("dst").as("id")).agg(min("_fs").as("_fin"))
        val stepped = materialize(
          f.join(inc, Seq("id"), "left").select(col("id"),
            col("f").as("_old"),
            least(col("f"), coalesce(col("_fin"), col("f"))).as("f")))
        done = stepped.filter(col("f") < col("_old")).limit(1).isEmpty
        f = stepped.select("id", "f")
        iter += 1
      }
      require(done, s"forward-min did not converge within $maxInner rounds")
      f
    }

    var remaining = materialize(nodes.select(col("id")))
    val longIds = LocalFinish.longIds(remaining, "id")
    var result: Option[DataFrame] = None
    var outer = 0
    var nRem = remaining.count()
    while (nRem > 0 && outer < maxOuter) {
      val e = materialize(edges
        .join(remaining.withColumnRenamed("id", "src"), "src")
        .join(remaining.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst"))
      // LOCAL FINISH (the KTruss/Mst one-task discipline — valid at
      // any outer round: peel removes WHOLE components, so the
      // remaining subgraph's SCCs are final SCCs): once the remaining
      // nodes + their induced edges fit one task, a single-task
      // Tarjan labeled by component minimum reproduces the remaining
      // peel rounds exactly — the distributed assignment is scc =
      // forward-min color of the flagged class, which the mutual-
      // reachability lemma makes the component's MINIMUM member id,
      // an algorithm-independent labeling. Each distributed outer
      // round costs a forward-min fixpoint PLUS a backward-flag
      // fixpoint (each O(depth) checkpointed jobs), so this removes
      // the whole job cascade at benchmark scale.
      if (LocalFinish.fits("Scc.components nodes", localFinishCap,
            longIds)(nRem) &&
          LocalFinish.fits("Scc.components edges", localFinishCap,
            longIds)(e.count())) {
        // materialized: condensationLevels joins the assignment 3x
        val assigned = materialize(localTarjan(remaining, e))
        result = Some(result.fold(assigned)(r =>
          r.unionByName(assigned)))
        remaining = remaining.filter(lit(false))
        nRem = 0
      } else {
      val f = materialize(
        fixpointMin(e, materialize(remaining.select(col("id"),
          col("id").as("f")))))
      // in-class edges: both endpoints share a forward-min color
      val ec = materialize(e
        .join(f.select(col("id").as("src"), col("f").as("_fa")), "src")
        .join(f.select(col("id").as("dst"), col("f").as("_fb")), "dst")
        .filter(col("_fa") === col("_fb"))
        .select("src", "dst"))
      // backward flag from each color's root along in-class edges
      var flag = materialize(
        f.filter(col("f") === col("id")).select("id"))
      var innerDone = false
      var inner = 0
      while (!innerDone && inner < maxInner) {
        val grown = materialize(flag.unionByName(
            ec.join(flag.withColumnRenamed("id", "dst"), "dst")
              .select(col("src").as("id")))
          .distinct())
        innerDone = grown.join(flag, Seq("id"), "left_anti")
          .limit(1).isEmpty
        flag = grown
        inner += 1
      }
      require(innerDone, s"backward flag did not converge within $maxInner")
      val assigned = materialize(
        flag.join(f, "id").select(col("id"), col("f").as("scc")))
      result = Some(result.fold(assigned)(r =>
        materialize(r.unionByName(assigned))))
      remaining = materialize(
        remaining.join(assigned.select("id"), Seq("id"), "left_anti"))
      nRem = remaining.count()
      }
      outer += 1
    }
    require(nRem == 0,
      s"SCC peel did not finish within $maxOuter outer rounds")
    result.getOrElse(nodes.select(col("id"), col("id").as("scc")))
  }

  /** One-task Tarjan over (id) nodes and (src, dst) induced edges:
    * emits (id, scc) with scc = the component's minimum member id —
    * the same labeling the FB-coloring rounds produce. Iterative
    * (explicit stack) so deep chains cannot overflow the JVM stack.
    */
  private[graft] def localTarjan(nodes: DataFrame, e: DataFrame)
      : DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    LocalGraph.rows(e.select("src", "dst"), nodes.select("id"))
      .coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val g = LocalGraph(it)
      val n = g.n
      val index = Array.fill(n)(-1)
      val lowlink = new Array[Int](n)
      val onStack = new Array[Boolean](n)
      val sccOf = Array.fill(n)(-1)
      val stack = mutable.ArrayBuffer.empty[Int]
      var counter = 0
      var nScc = 0
      // iterative Tarjan: frames of (vertex, next-child position)
      val fv = mutable.ArrayBuffer.empty[Int]
      val fp = mutable.ArrayBuffer.empty[Int]
      var v0 = 0
      while (v0 < n) {
        if (index(v0) == -1) {
          fv += v0; fp += 0
          index(v0) = counter; lowlink(v0) = counter; counter += 1
          stack += v0; onStack(v0) = true
          while (fv.nonEmpty) {
            val v = fv.last
            if (fp.last < g.degree(v)) {
              val w = g.nbr(g.off(v) + fp.last)
              fp(fp.length - 1) += 1
              if (index(w) == -1) {
                fv += w; fp += 0
                index(w) = counter; lowlink(w) = counter; counter += 1
                stack += w; onStack(w) = true
              } else if (onStack(w)) {
                if (index(w) < lowlink(v)) lowlink(v) = index(w)
              }
            } else {
              fv.remove(fv.length - 1); fp.remove(fp.length - 1)
              if (fv.nonEmpty && lowlink(v) < lowlink(fv.last))
                lowlink(fv.last) = lowlink(v)
              if (lowlink(v) == index(v)) {
                var w = -1
                while (w != v) {
                  w = stack.remove(stack.length - 1)
                  onStack(w) = false
                  sccOf(w) = nScc
                }
                nScc += 1
              }
            }
          }
        }
        v0 += 1
      }
      // component label = minimum member id
      val minOf = Array.fill(nScc)(Long.MaxValue)
      var i = 0
      while (i < n) {
        if (g.ids(i) < minOf(sccOf(i))) minOf(sccOf(i)) = g.ids(i)
        i += 1
      }
      (0 until n).iterator.map(i => (g.ids(i), minOf(sccOf(i))))
    }.toDF("id", "scc")
  }

  /** Condensation of the graph under an SCC assignment: the DAG of
    * components plus each component's LONGEST-PATH level — the
    * "dependency depth" readout (build stages, citation strata,
    * crawl-frontier generations) that only exists once cycles are
    * collapsed; on the raw graph longest-path is undefined.
    *
    * Levels by iterative max propagation — level'(t) = max(level(t),
    * max_{s→t} level(s) + 1) to fixpoint, rounds = DAG depth — the
    * [[components]] loop shape with max instead of min, exact
    * integers, per-round checkpoints, limit(1) probes. The condensed
    * edge list is one distinct over the node edges joined to the
    * assignment twice.
    *
    * Output: (scc, n_nodes, level), level 0 = source components.
    */
  def condensationLevels(edges: DataFrame, assignment: DataFrame,
      maxIter: Int = 50,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    val ce = materialize(edges
      .join(assignment.select(col("id").as("src"), col("scc").as("_sa")),
        "src")
      .join(assignment.select(col("id").as("dst"), col("scc").as("_sb")),
        "dst")
      .filter(col("_sa") =!= col("_sb"))
      .select(col("_sa").as("s"), col("_sb").as("t"))
      .distinct())
    val sizes = materialize(
      assignment.groupBy("scc").agg(count(lit(1)).as("n_nodes")))
    // LOCAL FINISH: the max-propagation fixpoint is the longest path
    // ending at each component of the condensation DAG — a one-task
    // Kahn topological DP computes the identical exact-integer levels
    // once the condensed edge list and component list fit one task,
    // instead of O(DAG depth) checkpointed join rounds. Components
    // with no condensed edge sit at level 0 in both formulations.
    val longIds = LocalFinish.longIds(sizes, "scc")
    if (LocalFinish.fits("Scc.condensationLevels edges", localFinishCap,
          longIds)(ce.count()) &&
        LocalFinish.fits("Scc.condensationLevels components", localFinishCap,
          longIds)(sizes.count())) {
      val spark = ce.sparkSession
      import spark.implicits._
      val lvlLocal = LocalGraph.rows(ce.select("s", "t"), sizes.select("scc"))
        .coalesce(1).mapPartitions { it =>
          import scala.collection.mutable
          val g = LocalGraph(it)
          val n = g.n
          val indeg = new Array[Int](n)
          g.dst.foreach(indeg(_) += 1)
          val lvl = new Array[Long](n)
          val queue = mutable.Queue.empty[Int]
          var i = 0
          while (i < n) { if (indeg(i) == 0) queue += i; i += 1 }
          var seen = 0
          while (queue.nonEmpty) {
            val v = queue.dequeue()
            seen += 1
            (g.off(v) until g.off(v + 1)).foreach { k =>
              val w = g.nbr(k)
              if (lvl(v) + 1 > lvl(w)) lvl(w) = lvl(v) + 1
              indeg(w) -= 1
              if (indeg(w) == 0) queue += w
            }
          }
          require(seen == n, "condensation levels: assignment is not " +
            "acyclic (not a valid SCC partition)")
          (0 until n).iterator.map(i => (g.ids(i), lvl(i)))
        }.toDF("scc", "lvl")
      return sizes.join(lvlLocal, "scc")
        .select(col("scc"), col("n_nodes"), col("lvl").as("level"))
        .orderBy("scc")
    }
    var lvl = materialize(sizes.select(col("scc"), lit(0L).as("lvl")))
    var iter = 0
    var done = lvl.isEmpty
    while (!done && iter < maxIter) {
      val inc = ce.join(lvl.select(col("scc").as("s"), col("lvl")
          .as("_ls")), "s")
        .groupBy(col("t").as("scc")).agg(max(col("_ls") + 1).as("_lin"))
      val stepped = materialize(
        lvl.join(inc, Seq("scc"), "left").select(col("scc"),
          col("lvl").as("_old"),
          greatest(col("lvl"), coalesce(col("_lin"), col("lvl")))
            .as("lvl")))
      done = stepped.filter(col("lvl") > col("_old")).limit(1).isEmpty
      lvl = stepped.select("scc", "lvl")
      iter += 1
    }
    require(done, s"condensation levels did not converge within $maxIter " +
      "rounds — the assignment is not acyclic (not a valid SCC partition)")
    sizes.join(lvl, "scc")
      .select(col("scc"), col("n_nodes"), col("lvl").as("level"))
      .orderBy("scc")
  }
}
