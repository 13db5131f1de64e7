package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** The two-regime gate every iterative operator shares. An operator
  * counts its input and, when the count fits under a cap, replays the
  * whole algorithm in ONE Spark task; above the cap its distributed
  * rounds run unchanged. At the sizes under the caps the distributed
  * rounds are scheduler-bound (each round is a few sub-second jobs of
  * join + aggregate + checkpoint), so the replay removes the job
  * cascade while computing the same output. The choice is made at run
  * time from the observed size (Dremel, VLDB 2020).
  *
  * The contract:
  *  - a cap ≤ 0 turns the local regime off, and so do id types the
  *    replay cannot load; both are checked before the count, so
  *    neither runs a count job. Tests pass cap 0 to pin the
  *    distributed regime against the local one.
  *  - a symmetric edge list holds 2 rows per input edge, so it is
  *    compared against 2 × cap (caps stay in input-edge units). The
  *    doubled cap is clamped at `Long.MaxValue`, so a huge cap cannot
  *    wrap negative and silently turn the local regime off.
  *  - a gate that compares several relations calls [[fits]] once per
  *    relation (short-circuiting), and the local regime runs only when
  *    every call says so. The seed relations of Sssp, Betweenness and
  *    NeighborhoodFunction, which their replays load beside the edges,
  *    are counted against the same cap by a second call, so their
  *    count runs only once the edges have fit.
  *  - the one-task idiom is the typed `Dataset.coalesce(1).mapPartitions`.
  *    Not `repartition(1)`: replay inputs are checkpointed leaves or
  *    projections of them, so coalescing concatenates their partitions
  *    in one task without the round-robin shuffle and its
  *    sort-before-repartition pass (measured 1.7 s more on 590k rating
  *    rows in AlsOps). Every replay is insensitive to input order.
  *  - null ids: the local regime returns what the distributed regime
  *    returns. The distributed equi-joins never match a null id, so the
  *    ConnectedComponents and KCore replays drop what those joins drop.
  *    [[LocalGraph]] and typed-tuple replays decode ids (and weights) as
  *    primitive longs, which cannot hold a null, so their gates count
  *    through [[rows]]: an input with a null in a decoded column takes
  *    the distributed regime whatever the cap. The null check rides in
  *    the counting aggregate, so it adds no Spark job. GraphColoring,
  *    KTruss and Mst drop null-id edges before their gates (canonical
  *    `lo < hi` edges, triangle support ≥ 1), so they count plainly.
  *    The seed counts of Sssp, Betweenness and NeighborhoodFunction go
  *    through [[rows]] as well, so a null seed id also takes the
  *    distributed regime, and the answer does not depend on the cap.
  *
  * Every decision logs one INFO line on the `graft.localfinish` logger
  * (operator, rows counted or `null-ids`, the cap it compared against,
  * regime); logging adds no Spark job.
  */
object LocalFinish {

  /** Graph operators, in input edges. */
  val GraphEdges = 200000L
  /** AlsOps rating rows. */
  val Ratings = 1000000L
  /** TopicOps (doc, word) count rows and TextOps feature rows. */
  val FeatureRows = 2000000L
  /** VectorOps PCA model rows (d² covariance cells). */
  val ModelRows = 4000000L
  /** SuffixArray corpus tokens. */
  val Tokens = 2000000L
  /** UnigramTokenizer distinct words. */
  val Words = 200000L

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.localfinish")

  /** True when the replay should run: `cap` > 0, `supported` ids, and
    * `rows` (evaluated only then) ≤ cap, or ≤ 2 × cap for a
    * `symmetric` edge list. A `rows` of [[NullIds]] is never local,
    * not even under a cap clamped at `Long.MaxValue`. */
  def fits(op: String, cap: Long, supported: Boolean = true,
      symmetric: Boolean = false)(rows: => Long): Boolean = {
    val limit = if (!symmetric) cap
      else if (cap > Long.MaxValue / 2) Long.MaxValue else 2 * cap
    val n = if (cap > 0 && supported) Some(rows) else None
    val local = n.exists(r => r >= 0 && r <= limit)
    val counted = n.fold("uncounted")(r => if (r == NullIds) "null-ids" else r.toString)
    log.info(s"$op: rows=$counted cap=$limit " +
      s"regime=${if (local) "local" else "distributed"}")
    local
  }

  /** The count [[rows]] reports for an input with a null id. */
  val NullIds = -1L

  /** The row count of `df` for [[fits]], or [[NullIds]] when any of
    * `decoded` (the columns the replay decodes as primitive longs)
    * holds a null. One aggregate: the same single job as `df.count()`. */
  def rows(df: DataFrame, decoded: String*): Long = {
    val r = df.agg(count(lit(1)),
        bool_or(decoded.map(col(_).isNull).reduce(_ || _)))
      .collect()(0)
    if (!r.isNullAt(1) && r.getBoolean(1)) NullIds else r.getLong(0)
  }

  /** Every column of `df` in `cols` holds long ids. */
  def longIds(df: DataFrame, cols: String*): Boolean =
    cols.forall(df.schema(_).dataType == LongType)

  /** Every column of `df` in `cols` holds long, int or string ids — the
    * types the generically keyed replays (ConnectedComponents, KCore)
    * compare. */
  def keyIds(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => Seq(LongType, IntegerType, StringType)
      .contains(df.schema(c).dataType))
}

/** A replay's graph, built once inside the one task: a long edge list
  * (plus optional seed rows) as dense int ids in first-seen order and
  * CSR adjacency. Edge `e` keeps its input position: `src(e)`, `dst(e)`,
  * `weight(e)`. The slots of vertex `v` are `off(v)` until `off(v + 1)`:
  * `nbr` holds the neighbor and `slotEdge` the edge of each slot, an
  * edge from `src` to `dst` (and back when `undirected`; a self-loop
  * then fills two slots). Seed row `i` names vertex `seeds(i)` with
  * payload `seedValue(i)`, duplicates kept.
  */
final class LocalGraph private (
    val ids: Array[Long],
    val src: Array[Int], val dst: Array[Int], val weight: Array[Long],
    val seeds: Array[Int], val seedValue: Array[Long], undirected: Boolean) {
  val n: Int = ids.length
  val m: Int = src.length
  val off = new Array[Int](n + 1)
  val nbr = new Array[Int](if (undirected) 2 * m else m)
  val slotEdge = new Array[Int](nbr.length)
  locally {
    var e = 0
    while (e < m) {
      off(src(e) + 1) += 1
      if (undirected) off(dst(e) + 1) += 1
      e += 1
    }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    def put(v: Int, w: Int, e: Int): Unit = {
      nbr(fill(v)) = w; slotEdge(fill(v)) = e; fill(v) += 1
    }
    e = 0
    while (e < m) {
      put(src(e), dst(e), e)
      if (undirected) put(dst(e), src(e), e)
      e += 1
    }
  }

  def degree(v: Int): Int = off(v + 1) - off(v)
}

object LocalGraph {

  /** One replay input row: (kind, x, y, w). Kind 0 is a seed: vertex x
    * with payload y. Kind 1 is an edge x → y with weight w. */
  type Row = (Int, Long, Long, Long)

  /** `edges` (x, y[, w]) and `seeds` (id[, payload]) as replay input
    * rows, by column position, every value cast to long. */
  def rows(edges: DataFrame, seeds: DataFrame = null): Dataset[Row] = {
    def tag(df: DataFrame, kind: Int): DataFrame = {
      def c(i: Int) =
        if (i < df.columns.length) col(df.columns(i)).cast("long") else lit(0L)
      df.select(lit(kind).as("t"), c(0).as("x"), c(1).as("y"), c(2).as("w"))
    }
    val spark = edges.sparkSession
    import spark.implicits._
    val tagged = tag(edges, 1)
    (if (seeds == null) tagged else tag(seeds, 0).unionByName(tagged))
      .as[Row]
  }

  def apply(it: Iterator[Row], undirected: Boolean = false): LocalGraph = {
    val index = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuilder.make[Long]
    def ix(v: Long): Int = index.getOrElseUpdate(v, { ids += v; index.size })
    val src = mutable.ArrayBuilder.make[Int]
    val dst = mutable.ArrayBuilder.make[Int]
    val weight = mutable.ArrayBuilder.make[Long]
    val seeds = mutable.ArrayBuilder.make[Int]
    val seedValue = mutable.ArrayBuilder.make[Long]
    it.foreach { case (kind, x, y, w) =>
      if (kind == 0) { seeds += ix(x); seedValue += y }
      else { src += ix(x); dst += ix(y); weight += w }
    }
    new LocalGraph(ids.result(), src.result(), dst.result(),
      weight.result(), seeds.result(), seedValue.result(), undirected)
  }
}
