package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-bucketed L2 proximity self-join over integer coordinates — the
  * spatial/metric analog of the LSH bucket joins: all pairs within
  * `maxDist`, found without the n² cross product.
  *
  * Standard cell trick: with cell side = maxDist, any qualifying pair's
  * cells differ by ≤ 1 per axis, so candidates are an EQUI-join of each
  * point's home cell against the other side exploded to its 3×3 cell
  * neighborhood. Each unordered pair is generated exactly TWICE (a-home
  * vs b-probe and b-home vs a-probe) and the `id < id_b` cut keeps
  * exactly one — no distinct pass, because a probe's 9 cells are
  * distinct and the home side has one cell, so a given (a,b) cannot
  * match two cell keys.
  *
  * Exactness: coordinates are integers (micro/milli-units upstream);
  * the distance test is exact integer dist² ≤ maxDist² — no sqrt, no
  * float, no engine divergence. `shift` biases coordinates positive so
  * `div` flooring never straddles zero (integer div truncates toward
  * zero, which would fold cells −1 and 0 together at the origin).
  *
  * Scale: shuffle keys are grid cells — fan-out is 9× the POINT count
  * (map-side explode, combine-free equi-join), candidate work is
  * Σ|cell|·|neighbor cells|, bounded by local density, never n². Dense
  * hotspot cells are the skew knob, and `hotCellCap` ENFORCES it (the
  * hotBandCap discipline from the LSH band join, TextOps.scala): a
  * cell holding more than `cap` points — one whale cluster of
  * co-located embeddings — would otherwise contribute |cell|²
  * candidates from its own 3×3 neighborhood alone. Under the cap that
  * cell's members pair as a STAR around the cell's min-id
  * representative (O(|cell|)), cold↔hot pairs stay exact (linear in
  * the hot cell's size), and cold↔cold pairs are untouched — total
  * candidate work is ≤ 9·cap per point plus one star row per hot
  * member, never quadratic. What's traded away, exactly as in the
  * band cap: the full pair LIST inside oversized cells (two hot
  * members both within maxDist of each other but >maxDist from the
  * representative lose their direct edge, and hot↔hot pairs across
  * DIFFERENT cells drop) — for the downstream CC/MST/linkage
  * consumers the star keeps every member CONNECTED to its cluster,
  * which is the contract those consumers need (`ScaleBench grid_skew` measures
  * both the candidate bound and the preserved connectivity). The
  * default cap = unbounded is the exact classical semantics the
  * oracles replay.
  */
object GridJoin {

  private def offsets = for { dx <- -1 to 1; dy <- -1 to 1 }
    yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))

  private def cellPoints(df: DataFrame, idCol: String, xCol: String,
      yCol: String, d: Long, shift: Long): DataFrame =
    df.select(col(idCol).as("id"),
        (col(xCol).cast("long") + shift).as("x"),
        (col(yCol).cast("long") + shift).as("y"))
      .withColumn("cx", expr(s"x div $d"))
      .withColumn("cy", expr(s"y div $d"))

  /** 3×3-neighborhood probe rows: (id_b, xb, yb) keyed by every cell
    * the point could pair into. */
  private def probeRows(pts: DataFrame): DataFrame =
    pts.withColumn("_o", explode(array(offsets: _*)))
      .select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
        (col("cx") + col("_o.dx")).as("cx"),
        (col("cy") + col("_o.dy")).as("cy"))

  /** Candidate pairs PRE distance filter, each unordered pair exactly
    * once, as (id, x, y, id_b, xb, yb) — id/id_b NOT yet canonically
    * ordered in the capped branches. Package-visible so `ScaleBench grid_skew`
    * can measure the candidate bound directly (the `TextOps.bucketPairs`
    * pattern). */
  private[graft] def candidatePairs(df: DataFrame, idCol: String,
      xCol: String, yCol: String, maxDist: Long, shift: Long,
      hotCellCap: Int): DataFrame = {
    val pts = cellPoints(df, idCol, xCol, yCol, maxDist, shift)
    if (hotCellCap == Int.MaxValue) {
      pts.join(probeRows(pts), Seq("cx", "cy"))
        .filter(col("id") < col("id_b"))
        .drop("cx", "cy")
    } else {
      // one combine agg sizes every home cell and names its representative
      val stats = pts.groupBy("cx", "cy")
        .agg(count(lit(1)).as("_cn"), min("id").as("_rep"))
      val sized = pts.join(stats, Seq("cx", "cy"))
      val cold = sized.filter(col("_cn") <= hotCellCap).drop("_cn", "_rep")
      val hot = sized.filter(col("_cn") > hotCellCap)
      val coldProbe = probeRows(cold)
      // cold×cold: the exact classical pattern among cold points
      val coldPairs = cold.join(coldProbe, Seq("cx", "cy"))
        .filter(col("id") < col("id_b"))
        .drop("cx", "cy")
      // hot×cold: a cold probe landing in a hot HOME cell — each mixed
      // pair found exactly once (the hot side never probes), work
      // linear in the hot cell's size
      val mixed = hot.drop("_cn", "_rep").join(coldProbe, Seq("cx", "cy"))
        .drop("cx", "cy")
      // hot star: every member against its cell's min-id representative
      val reps = hot.filter(col("id") === col("_rep"))
        .select(col("cx"), col("cy"), col("id").as("id_b"),
          col("x").as("xb"), col("y").as("yb"))
      val star = hot.filter(col("id") =!= col("_rep"))
        .drop("_cn", "_rep")
        .join(reps, Seq("cx", "cy"))
        .drop("cx", "cy")
      coldPairs.unionByName(mixed).unionByName(star)
    }
  }

  private def finish(cands: DataFrame, d: Long): DataFrame =
    cands
      .withColumn("dist2", (col("x") - col("xb")) * (col("x") - col("xb"))
        + (col("y") - col("yb")) * (col("y") - col("yb")))
      .filter(col("dist2") <= lit(d * d))
      .select(least(col("id"), col("id_b")).as("id_a"),
        greatest(col("id"), col("id_b")).as("id_b"), col("dist2"))

  /** Two-sided probe: all pairs (probe point, base point) within
    * `maxDist`, as canonical (id_a < id_b, dist2) rows — the
    * INCREMENTAL form of [[proximityJoin]]: a batch of new points
    * probes the existing grid without regenerating base×base pairs,
    * so per-batch cost is |batch|·9 cells exploded + one equi-join
    * (the X191 probe-vs-index discipline). Probe points present in
    * `base` never pair with themselves; probe-probe pairs (both
    * endpoints in the batch) are found twice and collapsed by the
    * canonical distinct.
    *
    * `hotCellCap` bounds whale BASE cells: a base cell holding more
    * than `cap` points exposes only its min-id representative to the
    * probes (probe↔whale work drops from |probe∩nbhd|·|cell| to
    * |probe∩nbhd|), trading away the probe's direct edges to the
    * whale's non-representative members — the incremental analog of
    * the star cap, preserving probe-to-cluster connectivity. Default
    * = unbounded = exact.
    */
  def proximityProbe(probe: DataFrame, base: DataFrame, idCol: String,
      xCol: String, yCol: String, maxDist: Long,
      shift: Long = 1L << 20, hotCellCap: Int = Int.MaxValue): DataFrame = {
    require(maxDist > 0, s"maxDist ($maxDist) must be > 0")
    val d = maxDist
    val basePts = cellPoints(base, idCol, xCol, yCol, d, shift)
    val baseSide =
      if (hotCellCap == Int.MaxValue) basePts
      else {
        val stats = basePts.groupBy("cx", "cy")
          .agg(count(lit(1)).as("_cn"), min("id").as("_rep"))
        basePts.join(stats, Seq("cx", "cy"))
          .filter(col("_cn") <= hotCellCap || col("id") === col("_rep"))
          .drop("_cn", "_rep")
      }
    val probed = probeRows(cellPoints(probe, idCol, xCol, yCol, d, shift))
      .withColumnRenamed("id_b", "id_p")
      .withColumnRenamed("xb", "xp")
      .withColumnRenamed("yb", "yp")
    baseSide.join(probed, Seq("cx", "cy"))
      .filter(col("id") =!= col("id_p"))
      .withColumn("dist2", (col("x") - col("xp")) * (col("x") - col("xp"))
        + (col("y") - col("yp")) * (col("y") - col("yp")))
      .filter(col("dist2") <= lit(d * d))
      .select(least(col("id"), col("id_p")).as("id_a"),
        greatest(col("id"), col("id_p")).as("id_b"), col("dist2"))
      .distinct()
  }

  def proximityJoin(df: DataFrame, idCol: String, xCol: String,
      yCol: String, maxDist: Long, shift: Long = 1L << 20,
      hotCellCap: Int = Int.MaxValue): DataFrame = {
    require(maxDist > 0, s"maxDist ($maxDist) must be > 0")
    finish(candidatePairs(df, idCol, xCol, yCol, maxDist, shift,
      hotCellCap), maxDist)
  }
}
