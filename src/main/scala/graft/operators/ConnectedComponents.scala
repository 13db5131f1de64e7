package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an edge list by iterative min-label
  * propagation — the step that turns pairwise near-duplicate DETECTION
  * (MinHash / SimHash / embedding-cosine pair queries) into duplicate
  * GROUPS a curation pipeline can act on ("keep one document per
  * cluster"). Nothing like it exists in the reference (SURVEY §2.6); this
  * is north-star extension surface.
  *
  * Algorithm: every node starts labeled with its own id; each round a
  * node takes the minimum label among itself and its neighbors; at
  * fixpoint every node carries the minimum node id of its component.
  * Each round is one equi-join (edges × labels, shuffle on the join key)
  * plus one partial-combine aggregation — no driver-side graph state,
  * no cross product, nodes never collect.
  *
  * Scale properties (the 100 TB story):
  *  - rounds needed = graph diameter. Near-dup clusters are
  *    short-diameter by construction (members pairwise-similar through a
  *    shared representative), so a handful of rounds suffices; for
  *    adversarially long chain graphs the alternating large-star /
  *    small-star algorithm (Kiveris et al., "Connected Components in
  *    MapReduce", SOCC'14) gets O(log n) rounds with the same
  *    join+aggregate building blocks — swap it in if diameter is
  *    unbounded.
  *  - each round's result is materialized through `materialize` (default
  *    [[Iterate.cut]]) — REQUIRED for any iterative dataflow on Spark:
  *    without a barrier round k's plan contains rounds 1..k-1 and both
  *    planning and recomputation go quadratic; without the stats reset
  *    the checkpoint-carried sizeInBytes estimate SQUARES per joined
  *    round (see [[Iterate]]) until planning drowns in BigInt math.
  *    Intermediate rounds' blocks are dereferenced as `labels` is
  *    reassigned, so the ContextCleaner reclaims them; the final
  *    result's blocks live exactly as long as the caller holds the
  *    returned DataFrame. On a production cluster pass a reliable
  *    checkpoint (`spark.sparkContext.setCheckpointDir` +
  *    `_.checkpoint()`) or a parquet round-trip instead.
  *  - the convergence probe is `limit(1)` over changed rows on the
  *    just-materialized frame — an early-exit scan, not a full count.
  *
  * Determinism: labels are min node ids — no floats, no ties, identical
  * in any engine (the DuckDB oracle computes the same fixpoint with a
  * recursive CTE).
  */
object ConnectedComponents {

  /** Component label per node of the (undirected) edge list: returns
    * (node, label) with label = min node id reachable from `node`.
    * Nodes with no edges never appear — callers union isolated nodes
    * back if they need total coverage.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    // both directions once; reused every round
    val sym = materialize(
      edges.select(col(srcCol).as("node"), col(dstCol).as("nbr"))
        .union(edges.select(col(dstCol).as("node"), col(srcCol).as("nbr"))))
    // LOCAL FINISH (the KTruss/Mst one-task discipline): when the
    // edge list fits one task, a single-task union–find computes the
    // identical (node, min-reachable-id) fixpoint without paying
    // O(diameter) rounds × (join + agg + checkpoint + probe) jobs.
    if (LocalFinish.fits("ConnectedComponents.labelPropagation",
        localFinishCap, LocalFinish.keyIds(sym, "node"),
        symmetric = true)(sym.count()))
      return materialize(localComponents(sym))
    // init = min over the CLOSED neighborhood — exactly what round 1
    // would compute from self-labels, for the price of the distinct()
    // the naive init needs anyway (one partial-combine agg over sym).
    // Saves a full round (join + agg + checkpoint + probe) every run.
    var labels = materialize(
      sym.groupBy("node")
        .agg(least(col("node"), min("nbr")).as("label")))
    var iter = 0
    var done = labels.isEmpty // empty edge list: already at fixpoint
    while (!done && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy("node").agg(min("label").as("nbr_min"))
      // left join: a node keeps its label when every neighbor is larger
      val stepped = materialize(
        labels.join(nbrMin, Seq("node"), "left").select(
          col("node"), col("label").as("_old"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label")))
      done = stepped.filter(col("label") < col("_old")).limit(1).isEmpty
      labels = stepped.select("node", "label")
      iter += 1
    }
    require(done, s"labelPropagation did not converge within $maxIter rounds "
      + "— diameter exceeds the bound; raise maxIter or use large-star/small-star")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14) — converges in O(log n) rounds regardless of graph
    * DIAMETER, where [[labelPropagation]] needs O(diameter) rounds. Use
    * this when components may be long chains (link graphs, session
    * stitching); for near-dup clusters (tiny diameter by construction)
    * plain propagation does fewer total joins.
    *
    * Each round rewires edges toward component minima:
    *  - large-star: every node's strictly-larger neighbors attach to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node's ≤-neighbors (and itself) attach to that
    *    minimum.
    * Both are one join (edges × per-node minima) + one partial-combine
    * min aggregate — the same primitives as a propagation round — and
    * the edge set stays bounded by the input edge count. At fixpoint the
    * graph is a star forest: every node points at its component minimum.
    *
    * Same output contract as [[labelPropagation]]: (node, label) with
    * label = component minimum; nodes with no edges never appear.
    */
  def alternatingStars(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 20,
      materialize: DataFrame => DataFrame = Iterate.cut,
      localFinishCap: Long = LocalFinish.GraphEdges)
      : DataFrame = {
    // canonical (a < b) distinct undirected edges, self-loops dropped
    var cur = materialize(
      edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    // LOCAL FINISH — valid at ANY round, not just round 0: each
    // large/small-star round preserves both the component structure
    // (Kiveris et al. Thm 1) and the non-isolated node set (nodes are
    // never dropped before the fixpoint — the fixpoint star forest
    // still names every input node, and rewired edges only reference
    // current endpoints and their neighborhood minima, so a node lost
    // mid-round could never reappear). A one-task union–find over the
    // current edge list therefore yields the identical
    // (node, component-min) table the remaining rounds would.
    val supported = LocalFinish.keyIds(cur, "a")
    def fits(n: Long) = LocalFinish.fits("ConnectedComponents.alternatingStars",
      localFinishCap, supported)(n)
    var n = cur.count()
    if (n > 0 && fits(n)) return materialize(localComponents(cur))

    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("node"), col("b").as("nbr"))
        .union(e.select(col("b").as("node"), col("a").as("nbr")))

    // min over the CLOSED neighborhood Γ(node) ∪ {node}
    def closedMin(e: DataFrame): DataFrame =
      sym(e).groupBy("node").agg(min("nbr").as("_mn"))
        .select(col("node"), least(col("node"), col("_mn")).as("m"))

    def star(e: DataFrame, large: Boolean): DataFrame = {
      val s = sym(e)
      val attach = if (large) col("nbr") > col("node") else col("nbr") <= col("node")
      val rewired = s.join(closedMin(e), "node").filter(attach)
        .select(col("nbr").as("u"), col("m"))
      // small-star also attaches the center itself to m
      val withSelf =
        if (large) rewired
        else rewired.union(closedMin(e).select(col("node").as("u"), col("m")))
      withSelf.filter(col("u") =!= col("m"))
        .select(least(col("u"), col("m")).as("a"), greatest(col("u"), col("m")).as("b"))
        .distinct()
    }

    var round = 0
    var done = n == 0
    while (!done && round < maxRounds) {
      // materialize BETWEEN the two half-rounds too: small-star reads its
      // input through sym (twice) AND closedMin, so an unmaterialized
      // large-star plan would re-execute ~4x per round
      val next = materialize(star(materialize(star(cur, large = true)), large = false))
      // ONE action decides exact set equality (the old probe ran TWO —
      // count() plus except().isEmpty — doubling per-round fixed cost):
      // both sides are distinct by construction, so after tagging and a
      // group-by, any (a, b) whose side-sum != 3 exists in only one set;
      // take(1) over that filter short-circuits. Both inputs read back
      // from their checkpoint, so the probe costs one exchange.
      done = next.withColumn("_side", lit(1))
        .unionByName(cur.withColumn("_side", lit(2)))
        .groupBy("a", "b").agg(sum("_side").as("_s"))
        .filter(col("_s") =!= 3)
        .isEmpty
      cur = next
      round += 1
      if (!done) {
        n = cur.count()
        if (fits(n)) return materialize(localComponents(cur))
      }
    }
    require(done, s"alternatingStars did not converge within $maxRounds rounds")
    // fixpoint is a star forest: leaves' labels are their single (min)
    // neighbor; roots label themselves
    val leaf = cur.select(col("b").as("node"), col("a").as("label"))
    val roots = cur.select(col("a").as("node")).except(leaf.select("node"))
      .withColumn("label", col("node"))
    leaf.union(roots)
  }

  /** Near-duplicate groups from a pair list: (doc_id, group_id,
    * group_size) for every document that appears in at least one pair,
    * group_id = smallest doc id in the connected component. The window
    * count runs over |dup docs| rows (tiny relative to the corpus — only
    * documents with a near-dup survive to this point).
    */
  def dupGroups(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame =
    labelPropagation(pairs, aCol, bCol, maxIter)
      .select(col("node").as("doc_id"), col("label").as("group_id"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy("group_id")))

  /** INCREMENTAL component maintenance: fold a batch of new edges into
    * an existing (node, label) table without re-running CC on the full
    * graph — the nightly form of dup-group maintenance, completing the
    * incremental family (X53 batch-vs-base dedup, X106 persisted sha
    * index, X107 mergeable aggregates).
    *
    * Contract-and-solve: each new edge's endpoints are mapped to their
    * existing component label (or themselves when unlabeled — new
    * nodes), CC runs on that CONTRACTED graph, and the resulting
    * relabeling composes back over the old label table. Correctness
    * rests on labels being component-MINIMUM node ids: the contracted
    * minimum of a set of old minima and new ids IS the merged
    * component's global minimum, so the composition equals a full
    * recompute exactly (the oracle proves it against the full-graph
    * fixpoint).
    *
    * Scale: the contracted CC loop runs on a graph bounded by the
    * BATCH's touch set (|new edges| + components they touch), never
    * |corpus|; untouched components pass through a single left join
    * unchanged. The old label table is the persisted state a production
    * pipeline reads back from parquet (X106's pattern). Every step is
    * an equi-join or the CC loop's own join+combine rounds.
    */
  def incrementalLabels(
      oldLabels: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val lab = oldLabels.select(col("node"), col("label"))
    // contract endpoints into component space
    val contracted = newEdges
      .select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .join(lab.select(col("node").as("_s"), col("label").as("_ls")),
        Seq("_s"), "left")
      .join(lab.select(col("node").as("_d"), col("label").as("_ld")),
        Seq("_d"), "left")
      .select(coalesce(col("_ls"), col("_s")).as("cs"),
        coalesce(col("_ld"), col("_d")).as("cd"))
    // solve the small contracted graph; rep → merged minimum
    val delta = labelPropagation(contracted, "cs", "cd", maxIter)
      .select(col("node").as("_rep"), col("label").as("_merged"))
    // compose over old nodes (rep = their old label)...
    val oldFinal = lab
      .join(delta, col("label") === col("_rep"), "left")
      .select(col("node"), coalesce(col("_merged"), col("label")).as("label"))
    // ...and over new nodes (rep = themselves)
    val newNodes = newEdges.select(col(srcCol).as("node"))
      .union(newEdges.select(col(dstCol).as("node")))
      .distinct()
      .join(lab.select("node"), Seq("node"), "left_anti")
    val newFinal = newNodes
      .join(delta, col("node") === col("_rep"), "left")
      .select(col("node"), coalesce(col("_merged"), col("node")).as("label"))
    oldFinal.unionByName(newFinal)
  }

  /** Spark's StringType min/least under the default (binary) collation
    * is UTF8String order = unsigned byte-wise comparison of the UTF-8
    * encoding. java.lang.String.compareTo is UTF-16 code-unit order,
    * which DISAGREES for supplementary-plane characters (surrogates
    * sort below U+E000..U+FFFF), so the local path compares the UTF-8
    * bytes explicitly to match the distributed labels exactly.
    */
  private[graft] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** One-task union–find over a two-column edge list (either
    * direction, self-loops allowed): emits (node, label) with label =
    * the component's minimum id, for exactly the nodes appearing in
    * the list — the same contract as the iterative fixpoints. Node
    * ids must be long/int/string (see [[utf8Lt]] for why string
    * comparison is byte-wise).
    *
    * A row with a null endpoint gets what [[labelPropagation]]'s
    * rounds give it: its equi-joins never match a null id, so the row
    * merges nothing, its non-null endpoint is still a node, and the
    * null node's label stays at its initial closed-neighborhood
    * minimum — the least non-null id paired with null (null when
    * there is none).
    */
  private[graft] def localComponents(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = pairs.schema.fields(0).dataType
    val lt: (Any, Any) => Boolean = dt match {
      case LongType =>
        (x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long]
      case IntegerType =>
        (x, y) => x.asInstanceOf[Int] < y.asInstanceOf[Int]
      case StringType =>
        (x, y) => utf8Lt(x.asInstanceOf[String], y.asInstanceOf[String])
      case other => throw new IllegalArgumentException(
        s"localComponents: unsupported node id type $other")
    }
    def less(x: Any, y: Any): Boolean = y == null || lt(x, y)
    pairs.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val idx = mutable.HashMap.empty[Any, Int]
      val keys = mutable.ArrayBuffer.empty[Any]
      val parent = mutable.ArrayBuffer.empty[Int]
      def ix(v: Any): Int = idx.getOrElseUpdate(v, {
        keys += v; parent += parent.length; parent.length - 1
      })
      def find(i0: Int): Int = {
        var i = i0
        while (parent(i) != i) {
          parent(i) = parent(parent(i)); i = parent(i)
        }
        i
      }
      var nullNode = false
      var nullLabel: Any = null
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) {
          nullNode = true
          Seq(r.get(0), r.get(1)).filter(_ != null).foreach { v =>
            ix(v)
            if (less(v, nullLabel)) nullLabel = v
          }
        } else {
          val ra = find(ix(r.get(0))); val rb = find(ix(r.get(1)))
          if (ra != rb) parent(ra) = rb
        }
      }
      val n = keys.length
      val minOf = new Array[Any](n)
      var i = 0
      while (i < n) {
        val r = find(i)
        if (less(keys(i), minOf(r))) minOf(r) = keys(i)
        i += 1
      }
      (0 until n).iterator.map(i => Row(keys(i), minOf(find(i)))) ++
        (if (nullNode) Iterator(Row(null, nullLabel)) else Iterator.empty)
    }(org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("node", dt, nullable = true),
      StructField("label", dt, nullable = true)))))
  }
}
