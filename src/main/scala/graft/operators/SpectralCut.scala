package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.TextOps

/** Spectral bipartition by deflated power iteration on the LAZY random
  * walk (Fiedler 1973's algebraic connectivity read through the walk
  * matrix; Shi–Malik PAMI 2000's normalized cut is the same second
  * eigenvector) — the global complement to the local clustering the
  * dedup stack already has: single linkage (X315) merges through any
  * bridge, DBSCAN (X281) needs a density scale; the spectral sign cut
  * seeks the BOTTLENECK — two halves with few crossing edges relative
  * to volume — which is what a shard planner or a two-way partitioner
  * actually wants.
  *
  * Algebra: the walk matrix P = D⁻¹A has top eigenpair (1, const);
  * the second eigenvector changes sign across the sparsest cut
  * (Cheeger). Power iteration needs two fixes to land there: (1) the
  * LAZY step x ← (x + Px)/2 maps eigenvalues into [0, 1] so the
  * bipartite-ish negative end can't alternate; (2) deflation — after
  * every step subtract the stationary projection (Σdᵢxᵢ)/(Σdᵢ) (π ∝
  * d is P's LEFT top eigenvector, so this removes the constant
  * component exactly) — leaving the second eigenvector dominant.
  *
  * Rounds are accuracy, stated honestly: amplification of the target
  * eigenvector per round is 1/λ₂(within), and geometric proximity
  * graphs mix SLOWLY (tiny gap), so 8 rounds land on a smooth
  * low-frequency cut rather than the global optimum —
  * `ScaleBench spectral_scale` measures it: conductance 0.161 vs 0.513 for a
  * random balanced cut on the 2× graph (3.2× better), while the
  * planted zero-conductance component split itself would need
  * O(1/gap) rounds (twin purity 0.555 recorded, not hidden).
  *
  * Exactness (the X200 PCA-power discipline): all integer — neighbor
  * sums are exact Longs, the per-node divide by dᵢ, the lazy halving,
  * the deflation constant (decimal(38,0) sums, truncating division:
  * Spark `div` and DuckDB `//` both truncate toward zero, pinned
  * (-7)//2 = -3), and the rescale to max|x| = scale. Both engines
  * replay every round bit-identically; "after `rounds` rounds" is the
  * semantics, convergence is an accuracy statement.
  *
  * Scale shape: one symmetrize + degree pass over the edge list, then
  * per round ONE edge⋈vector equi-join + combine sum (the matvec) and
  * two 1-row scalar aggregates broadcast back onto the node table.
  * Everything is |E| or |V| sized; no all-pairs shape anywhere, and
  * the rounds are bounded (8), so plain localCheckpoint per round is
  * the right barrier (SURVEY round-11: unbounded loops need
  * Iterate.cut, bounded ones don't).
  */
object SpectralCut {

  /** edges(loCol, hiCol): undirected unique pairs. Returns one row per
    * endpoint id: (id, score_q on the ±scale grid, pos_side). */
  def bipartition(edges: DataFrame, loCol: String, hiCol: String,
      rounds: Int = 8, scale: Long = 1000000L,
      localFinishCap: Long = LocalFinish.GraphEdges): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val e = edges.select(col(loCol).as("a"), col(hiCol).as("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true) // the matvec side of every round
    // LOCAL FINISH (r16, the graph-family 200k-edge convention): each
    // round is one |E| join + three tiny aggregates, but 8 unrolled
    // rounds pay ~90 barrier jobs of scheduler overhead (profiled
    // 6.2 s warm at sf0.1 for ≪1 s of data work). Below the cap ONE
    // task replays the identical integer rounds (Long sums bounded by
    // 2|E|·scale ≤ 4·10¹¹ under the cap; Scala Long `/` ≡ Spark `div`
    // ≡ DuckDB `//`, toward zero). Distributed rounds unchanged above.
    if (LocalFinish.fits("SpectralCut.bipartition", localFinishCap,
        LocalFinish.longIds(sym, "a", "b"), symmetric = true)(
        LocalFinish.rows(sym, "a", "b")))
      return localBipartition(sym, rounds, scale)
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    // Start: deterministic ±scale by md5 parity — any engine replays
    // it, and a generic sign pattern is not orthogonal to the target.
    val start = deg.select(col("id"), col("d"),
      when(conv(substring(md5(concat(lit("spec|"),
          col("id").cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0,
        lit(scale)).otherwise(lit(-scale)).as("x"))
    // Deflate (remove the stationary component) then rescale to
    // max|x| = scale so round r+1 starts on the same integer grid.
    def normalize(cur: DataFrame): DataFrame = {
      val s = cur.agg(sum(dec(col("d") * col("x"))).as("sdx"),
        sum(dec(col("d"))).as("sd"))
      val centered = cur.crossJoin(broadcast(s))
        .select(col("id"), col("d"),
          (col("x") - TextOps.truncDivDec(col("sdx"), col("sd"))
            .cast("long")).as("x"))
      val m = centered.agg(max(abs(col("x"))).as("m"))
      centered.crossJoin(broadcast(m))
        .select(col("id"), col("d"),
          when(col("m") > 0, expr(s"(x * $scale) div m"))
            .otherwise(lit(0L)).as("x"))
    }
    var x = normalize(start).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val nbr = sym
        .join(x.select(col("id").as("b"), col("x").as("xj")), "b")
        .groupBy(col("a").as("id")).agg(sum("xj").as("sx"))
      val stepped = x.join(nbr, "id")
        .select(col("id"), col("d"),
          expr("(x + (sx div d)) div 2").as("x"))
      x = normalize(stepped).localCheckpoint(true)
    }
    x.select(col("id"), col("x").as("score_q"),
      (col("x") >= 0).as("pos_side"))
  }

  /** One-task replay of the deflated lazy power iteration on the
    * symmetrized edge list: identical md5-parity start, identical
    * deflation/rescale/step divisions (all toward-zero on Longs). */
  private def localBipartition(sym: DataFrame, rounds: Int, scale: Long)
      : DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val out = LocalGraph.rows(sym).coalesce(1).mapPartitions { it =>
      val g = LocalGraph(it)
      val n = g.n
      val d = Array.tabulate(n)(g.degree(_).toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
      val x = new Array[Long](n)
      var i = 0
      while (i < n) {
        val dig = md.digest(s"spec|${g.ids(i)}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        x(i) = if (((dig(0) >> 4) & 0xf) % 2 == 0) scale else -scale
        md.reset()
        i += 1
      }
      def normalize(): Unit = {
        var sdx = 0L; var sd = 0L
        var j = 0
        while (j < n) { sdx += d(j) * x(j); sd += d(j); j += 1 }
        val c = sdx / sd
        var m = 0L
        j = 0
        while (j < n) { x(j) -= c; m = math.max(m, math.abs(x(j))); j += 1 }
        j = 0
        while (j < n) {
          x(j) = if (m > 0) (x(j) * scale) / m else 0L
          j += 1
        }
      }
      normalize()
      var r = 1
      while (r <= rounds) {
        val sx = new Array[Long](n)
        var k = 0
        while (k < g.m) { sx(g.src(k)) += x(g.dst(k)); k += 1 }
        i = 0
        while (i < n) { x(i) = (x(i) + sx(i) / d(i)) / 2; i += 1 }
        normalize()
        r += 1
      }
      (0 until n).iterator.map(i0 => (g.ids(i0), x(i0), x(i0) >= 0))
    }
    out.toDF("id", "score_q", "pos_side")
  }
}
