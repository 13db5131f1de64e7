package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full k-core DECOMPOSITION — the coreness number of every vertex —
  * via the h-index fixpoint (Lü–Chen–Zhang–Zhou–Stanley, PNAS 2016):
  * start from c_v = deg(v) and iterate c_v ← H({c_u : u ∈ N(v)}),
  * where H is the h-index of the neighbor multiset (max h such that
  * ≥ h neighbors hold value ≥ h). The sequence is monotone
  * non-increasing per vertex and converges exactly to coreness —
  * which upgrades KCore (one fixed k per run) to the whole
  * decomposition in ONE loop, the form a curation stack actually
  * stores ("how deep does this item sit in the co-occurrence
  * structure").
  *
  * Why h-index and not sequential peel: the textbook min-degree peel
  * is inherently sequential (|V| rounds); h-index iteration is
  * level-synchronous — every vertex updates from its neighbors'
  * carried values, one equi-join + one adjacency-sized window per
  * round, and real graphs converge in a few dozen rounds. Monotone
  * convergence licenses the unrolled oracle (surplus rounds no-op).
  *
  * TWO-REGIME rounds (r15, the KTruss treatment): while the changed
  * front is large, recompute H for every vertex (the full
  * adjacency-sized round — any front bookkeeping would cost more than
  * it saves). Once fewer than `frontSwitch` of the vertices changed
  * last round, recompute ONLY the AFFECTED vertices — those with at
  * least one changed neighbor (H(v) is a pure function of N(v)'s
  * values, so an unaffected vertex cannot move) — and patch them into
  * the carried table with a V-sized left join. The r14 sf1 sweep read
  * 3.0× at 10× data because the tail rounds (tiny fronts, identical
  * per replica) still paid full-adjacency windows; front-proportional
  * tails make the data term of a round track the work that actually
  * remains.
  *
  * All-integer: H comes from ranks — h = max over the desc-sorted
  * neighbor values of min(rank, value); tie order within equal
  * values cannot change the result (the multiset decides). One count
  * action per round decides the fixpoint; carried frames pass
  * through Iterate.cut (the data-dependent-loop rule).
  *
  * Input: undirected edges, deduped, a < b. Output: (node, coreness).
  */
object Coreness {

  def decompose(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 60,
      frontSwitch: Double = 0.125,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    // Cut the caller's edge pipeline ONCE before symmetrizing — the
    // unionAll's two branches are different projections of `e`, so a
    // lazy `e` (e.g. the capped bipartite projection: scan + distinct
    // + window + self-join) would evaluate twice (the KTruss e0 rule;
    // measured ~2x the projection cost on llm_graph_coreness at sf1).
    val e = Iterate.cut(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // LOCAL FINISH (r16): below the cap, ONE task replays the same
    // synchronous h-index rounds to the same fixpoint — at that size
    // each distributed round was a join + window + count of scheduler
    // overhead. The replay is round-for-round the identical recurrence
    // (c_v ← H of neighbor multiset), so the fixpoint values match by
    // construction; CorenessSpec pins local == distributed.
    if (LocalFinish.fits("Coreness.decompose", localFinishCap,
        LocalFinish.longIds(e, "a"))(LocalFinish.rows(e, "a", "b")))
      return localDecompose(e, maxRounds)
    val und = Iterate.cut(
      e.select(col("a").as("v"), col("b").as("u"))
        .unionAll(e.select(col("b").as("v"), col("a").as("u"))))
    var cur = Iterate.cut(
      und.groupBy(col("v").as("n")).agg(count(lit(1)).as("c")))
    val nVerts = cur.count()
    // H-recompute for a vertex set given as edges (v, u) — one equi
    // join on the carried values + one per-v window, the PNAS'16 round.
    def hOf(subUnd: DataFrame): DataFrame = {
      val w = Window.partitionBy("v").orderBy(col("cu").desc)
      subUnd
        .join(cur.withColumnRenamed("n", "u").withColumnRenamed("c", "cu"),
          Seq("u"))
        .withColumn("r", row_number().over(w).cast("long"))
        .select(col("v"), least(col("r"), col("cu")).as("hv"))
        .groupBy(col("v").as("n")).agg(max("hv").as("c"))
    }
    var front: DataFrame = null // nodes whose value changed last round; null = all
    var frontSize = nVerts
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      if (rounds > maxRounds) throw new IllegalStateException(
        s"Coreness: no fixpoint after $maxRounds rounds — raise maxRounds")
      if (front == null || frontSize >= nVerts * frontSwitch) {
        // FULL regime: recompute every vertex.
        val next = Iterate.cut(hOf(und))
        val changedRows = Iterate.cut(
          cur.join(next.withColumnRenamed("c", "c2"), Seq("n"))
            .filter(col("c") =!= col("c2")).select("n"))
        frontSize = changedRows.count()
        done = frontSize == 0
        front = changedRows
        cur = next
      } else {
        // AFFECTED regime: only vertices with a changed neighbor can
        // move. The explicit broadcast hint is gated on the MEASURED
        // front size (a million-row hint would OOM the driver at
        // cluster scale); above the gate the semi probes stay plain
        // and AQE broadcast-converts from runtime sizes if it fits.
        def maybeBcast(df: DataFrame, rows: Long): DataFrame =
          if (rows <= 1000000L) broadcast(df) else df
        val touched = und
          .join(maybeBcast(front.withColumnRenamed("n", "u"), frontSize),
            Seq("u"), "left_semi")
          .select("v").distinct()
        // touched's size is front x degree — unknown without an action,
        // so no hint: AQE broadcast-converts it from runtime sizes.
        val sub = und.join(touched, Seq("v"), "left_semi")
        val upd = hOf(sub)
        val changedRows = Iterate.cut(
          cur.join(upd.withColumnRenamed("c", "c2"), Seq("n"))
            .filter(col("c") =!= col("c2")))
        frontSize = changedRows.count()
        done = frontSize == 0
        if (!done) {
          cur = Iterate.cut(
            cur.join(changedRows.select(col("n"), col("c2")), Seq("n"), "left")
              .select(col("n"), coalesce(col("c2"), col("c")).as("c")))
          front = changedRows.select("n")
        }
      }
    }
    cur.select(col("n").as("node"), col("c").as("coreness"))
  }

  /** One-task synchronous h-index iteration to the fixpoint — the
    * exact recurrence the distributed rounds run (c_v ← max over the
    * desc-sorted neighbor multiset of min(rank, value)), so the
    * converged values are identical by construction. Long ids,
    * non-null (the gate sends null ids to the distributed rounds).
    */
  private def localDecompose(e: DataFrame, maxRounds: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    LocalGraph.rows(e).coalesce(1).mapPartitions { it =>
      val g = LocalGraph(it, undirected = true)
      var cur = Array.tabulate(g.n)(g.degree(_).toLong)
      var rounds = 0
      var changed = true
      while (changed) {
        rounds += 1
        if (rounds > maxRounds) throw new IllegalStateException(
          s"Coreness: no fixpoint after $maxRounds rounds — raise maxRounds")
        changed = false
        val next = new Array[Long](g.n)
        var v = 0
        while (v < g.n) {
          val vals = (g.off(v) until g.off(v + 1)).map(k => cur(g.nbr(k))).toArray
          java.util.Arrays.sort(vals)
          // desc rank r = 1.. over the sorted-desc values
          var h = 0L
          var i = 0
          val m = vals.length
          while (i < m) {
            val x = vals(m - 1 - i) // i-th largest
            val hv = math.min((i + 1).toLong, x)
            if (hv > h) h = hv
            i += 1
          }
          next(v) = h
          if (h != cur(v)) changed = true
          v += 1
        }
        cur = next
      }
      (0 until g.n).iterator.map(v => (g.ids(v), cur(v)))
    }.toDF("node", "coreness")
  }
}
