package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.LocalFinish

/** Latent-factor recommendation by alternating least squares (X298;
  * Koren/Bell/Volinsky IEEE Computer 2009; the ALS schedule of Zhou et
  * al. AAIM'08) — the collaborative-filtering family the surface
  * lacked: [[graft.operators.BipartiteProjection]] relates items that
  * CO-OCCUR, link prediction scores graph proximity; matrix
  * factorization learns a shared low-rank taste space that
  * generalizes to (user, item) pairs never observed together.
  */
object AlsOps {

  private def dec(x: Column): Column = x.cast("decimal(38,0)")

  /** Rank-2 ALS on an integer ratings table, exactly replayable:
    *
    *  - factors live in MILLI units (10³ = 1.0); rank 2 keeps each
    *    half-step's normal equations a 2×2 system solved in CLOSED
    *    FORM by the adjugate — x = 10⁶·adj(A+λI)·b / det, one signed
    *    toward-zero division per component ([[TextOps.truncDivDec]] ≡
    *    DuckDB `//`; factors go negative, floor would diverge). λ > 0
    *    makes A + λI positive definite, so det > 0 always — no
    *    singular systems, no division guards needed;
    *  - A = Σ v·vᵀ and b = Σ r·v are ONE combine-agg per half-step
    *    over the ratings joined to the fixed side's factors — exact
    *    integer sums (products through decimal(38,0));
    *  - init: keyed-md5 factors 1000 + h%201 − 100 (1.0 ± 0.1 milli,
    *    deterministic, no RNG) on the item side; `rounds` full
    *    U-then-V alternations (X56/X192 replayable-loop discipline).
    *
    * Scale: each half-step is one equi-join of the ratings against a
    * |users|- or |items|-row factor table plus one combine agg back to
    * that table — the ratings matrix is touched once per half-step,
    * nothing quadratic exists anywhere (scoring is restricted to
    * OBSERVED candidate items per user, never the user×item product).
    * Factor tables are checkpointed per half-step (each feeds the next
    * solve and the readout).
    *
    * Output: the `topUsers` most active users (n_items desc, user) —
    * their learned factors, their top OBSERVED item under the model
    * (score = u·v in milli² units, ties by item id), and that score.
    */
  def alsFactors(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rounds: Int = 2, lambdaMilli2: Long = 100000L,
      topUsers: Int = 20,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.Ratings)
      : DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val r = materialize(ratings.select(col(userCol).as("u"),
      col(itemCol).as("i"), col(ratingCol).cast("long").as("r")))
    // LOCAL FINISH (r16, the Mst/CC/suffix discipline): the whole fit
    // is RATINGS-bounded — every half-step reads the ratings once and
    // writes a factor table no larger than the distinct key count —
    // but the unrolled distributed loop costs ~38 AQE/checkpoint jobs
    // of scheduler overhead (measured 6.4 s at sf0.1 for ~0.5 s of
    // data work; the r15 driver read 14.6 s at c32 with ratio 0.32 —
    // the per-round barriers ANTI-scale). Below the cap (1M rating
    // rows ≈ 24 MB of longs) ONE task replays the identical integer
    // algebra: same md5 inits, exact decimal(38,0) sums via BigInt,
    // same toward-zero adjugate divisions, same tie-breaks. Above the
    // cap the distributed alternations run unchanged (the 100 TB
    // path); AlsOpsSpec pins local == distributed on a real feed.
    if (LocalFinish.fits("AlsOps.alsFactors", localFinishCap,
        LocalFinish.longIds(r, "u", "i"))(LocalFinish.rows(r, "u", "i", "r")))
      return localAls(r, userCol, rounds, lambdaMilli2, topUsers)
    def h(prefix: String, c: Column, f: Int): Column =
      expr(s"cast(conv(substring(md5(concat('$prefix', " +
        s"cast(${c.toString} as string), '|$f')), 1, 15), 16, 10) " +
        "as bigint)") % 201
    var v = materialize(r.select("i").distinct()
      .select(col("i"), (lit(900L) + h("als|", col("i"), 1)).as("f1"),
        (lit(900L) + h("als|", col("i"), 2)).as("f2")))
    var u: DataFrame = null
    def solve(keyed: DataFrame, key: String): DataFrame = {
      // keyed: (key, r, g1, g2) — the fixed side's factors per rating
      val lam = lit(lambdaMilli2)
      keyed.groupBy(key)
        .agg(sum(dec(col("g1")) * dec(col("g1"))).as("a11"),
          sum(dec(col("g1")) * dec(col("g2"))).as("a12"),
          sum(dec(col("g2")) * dec(col("g2"))).as("a22"),
          sum(dec(col("r")) * dec(col("g1"))).as("b1"),
          sum(dec(col("r")) * dec(col("g2"))).as("b2"))
        .withColumn("_det", (col("a11") + lam) * (col("a22") + lam)
          - col("a12") * col("a12"))
        .select(col(key),
          TextOps.truncDivDec(lit(1000000L)
            * ((col("a22") + lam) * col("b1") - col("a12") * col("b2")),
            col("_det")).cast("long").as("f1"),
          TextOps.truncDivDec(lit(1000000L)
            * ((col("a11") + lam) * col("b2") - col("a12") * col("b1")),
            col("_det")).cast("long").as("f2"))
    }
    (1 to rounds).foreach { _ =>
      u = materialize(solve(r.join(v.select(col("i"), col("f1").as("g1"),
        col("f2").as("g2")), "i"), "u"))
      v = materialize(solve(r.join(u.select(col("u"), col("f1").as("g1"),
        col("f2").as("g2")), "u"), "i"))
    }
    val act = r.groupBy("u").agg(count(lit(1)).as("n_items"))
    val scored = r.join(v, "i").join(u.select(col("u"),
        col("f1").as("u1"), col("f2").as("u2")), "u")
      .select(col("u"), col("i"),
        (dec(col("u1")) * dec(col("f1"))
          + dec(col("u2")) * dec(col("f2"))).cast("long").as("score"))
      .withColumn("_rn", row_number().over(Window.partitionBy("u")
        .orderBy(col("score").desc, col("i"))))
      .filter(col("_rn") === 1)
    act.join(u, "u").join(scored, "u")
      .withColumn("_ur", row_number().over(
        Window.orderBy(col("n_items").desc, col("u"))))
      .filter(col("_ur") <= topUsers)
      .select(col("u").as(userCol), col("n_items"),
        col("f1").as("f1_milli"), col("f2").as("f2_milli"),
        col("i").as("top_item"), col("score").as("top_score_milli2"))
      .orderBy(userCol)
  }

  /** One-task replay of the distributed alternations: identical md5
    * item inits, identical normal-equation sums (BigInt ≡ the
    * distributed decimal(38,0) — exact integers either way), identical
    * toward-zero adjugate divisions (BigInt `/` truncates toward zero,
    * the [[TextOps.truncDivDec]] pin), identical (score desc, item)
    * and (n_items desc, user) tie-breaks.
    */
  private def localAls(r: DataFrame, userCol: String, rounds: Int,
      lambdaMilli2: Long, topUsers: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = r.sparkSession
    import spark.implicits._
    // the one-task idiom and its measured reason: see LocalFinish. The
    // typed path decodes straight to primitive tuples; the gate sends
    // null ids and ratings to the distributed regime (LocalFinish.rows)
    val out = r.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val us = mutable.ArrayBuffer.empty[Long]
      val is = mutable.ArrayBuffer.empty[Long]
      val rs = mutable.ArrayBuffer.empty[Long]
      it.foreach { row =>
        us += row._1; is += row._2; rs += row._3
      }
      val n = us.length
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(prefix: String, v: Long, f: Int): Long = {
        md.reset()
        val d = md.digest(s"$prefix$v|$f"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = top 60 bits, nonnegative
        var acc = 0L
        var k = 0
        while (k < 15) {
          val b = d(k / 2) & 0xff
          val nib = if (k % 2 == 0) b >> 4 else b & 0xf
          acc = (acc << 4) | nib
          k += 1
        }
        acc % 201L
      }
      // item-side init: 900 + h (the distributed `lit(900) + h(...)`)
      val vf = mutable.LongMap.empty[(Long, Long)]
      is.foreach { i =>
        if (!vf.contains(i))
          vf(i) = (900L + h("als|", i, 1), 900L + h("als|", i, 2))
      }
      val lam = BigInt(lambdaMilli2)
      val M = BigInt(1000000L)
      // one half-step: solve for the key side given the fixed side's
      // factors attached to each rating row. The per-row normal-
      // equation sums run on LONGS whenever the (once-per-half-step)
      // bound proof holds — n·maxG² and n·maxR·maxG inside 2⁶³ means
      // no per-key sum can overflow, so Long == decimal(38,0) exactly;
      // otherwise the BigInt path (still exact) takes over. The
      // adjugate divisions are BigInt always: det and the 10⁶-scaled
      // numerators multiply three sums and DO exceed 2⁶³ (one BigInt
      // solve per distinct key — cheap; the per-ROW work is the hot
      // loop).
      def solve(fixedOf: Int => (Long, Long),
          keyAt: Int => Long): mutable.LongMap[(Long, Long)] = {
        var maxG = 1L; var maxR = 1L
        var j = 0
        while (j < n) {
          val (g1, g2) = fixedOf(j)
          maxG = math.max(maxG, math.max(math.abs(g1), math.abs(g2)))
          maxR = math.max(maxR, math.abs(rs(j)))
          j += 1
        }
        val bn = BigInt(n)
        val longSafe =
          bn * BigInt(maxG) * BigInt(maxG) < BigInt(Long.MaxValue) &&
          bn * BigInt(maxR) * BigInt(maxG) < BigInt(Long.MaxValue)
        val outF = mutable.LongMap.empty[(Long, Long)]
        def finish(k: Long, a11k: BigInt, a12k: BigInt, a22k: BigInt,
            b1k: BigInt, b2k: BigInt): Unit = {
          val det = (a11k + lam) * (a22k + lam) - a12k * a12k
          // BigInt `/` truncates toward zero == truncDivDec == DuckDB //
          val f1 = (M * ((a22k + lam) * b1k - a12k * b2k)) / det
          val f2 = (M * ((a11k + lam) * b2k - a12k * b1k)) / det
          outF(k) = (f1.toLong, f2.toLong)
        }
        if (longSafe) {
          val a11 = mutable.LongMap.empty[Long]
          val a12 = mutable.LongMap.empty[Long]
          val a22 = mutable.LongMap.empty[Long]
          val b1 = mutable.LongMap.empty[Long]
          val b2 = mutable.LongMap.empty[Long]
          j = 0
          while (j < n) {
            val k = keyAt(j)
            val (g1, g2) = fixedOf(j)
            val r0 = rs(j)
            a11(k) = a11.getOrElse(k, 0L) + g1 * g1
            a12(k) = a12.getOrElse(k, 0L) + g1 * g2
            a22(k) = a22.getOrElse(k, 0L) + g2 * g2
            b1(k) = b1.getOrElse(k, 0L) + r0 * g1
            b2(k) = b2.getOrElse(k, 0L) + r0 * g2
            j += 1
          }
          a11.foreach { case (k, a11k) =>
            finish(k, BigInt(a11k), BigInt(a12(k)), BigInt(a22(k)),
              BigInt(b1(k)), BigInt(b2(k)))
          }
        } else {
          val a11 = mutable.LongMap.empty[BigInt]
          val a12 = mutable.LongMap.empty[BigInt]
          val a22 = mutable.LongMap.empty[BigInt]
          val b1 = mutable.LongMap.empty[BigInt]
          val b2 = mutable.LongMap.empty[BigInt]
          j = 0
          while (j < n) {
            val k = keyAt(j)
            val (g1, g2) = fixedOf(j)
            val bg1 = BigInt(g1); val bg2 = BigInt(g2)
            val br = BigInt(rs(j))
            a11(k) = a11.getOrElse(k, BigInt(0)) + bg1 * bg1
            a12(k) = a12.getOrElse(k, BigInt(0)) + bg1 * bg2
            a22(k) = a22.getOrElse(k, BigInt(0)) + bg2 * bg2
            b1(k) = b1.getOrElse(k, BigInt(0)) + br * bg1
            b2(k) = b2.getOrElse(k, BigInt(0)) + br * bg2
            j += 1
          }
          a11.foreach { case (k, a11k) =>
            finish(k, a11k, a12(k), a22(k), b1(k), b2(k))
          }
        }
        outF
      }
      var v = vf
      var u = mutable.LongMap.empty[(Long, Long)]
      (1 to rounds).foreach { _ =>
        val vv = v
        u = solve(j => vv(is(j)), j => us(j))
        val uu = u
        v = solve(j => uu(us(j)), j => is(j))
      }
      // activity + best observed item per user (score desc, item asc)
      val act = mutable.LongMap.empty[Long]
      val bestScore = mutable.LongMap.empty[Long]
      val bestItem = mutable.LongMap.empty[Long]
      var maxU = 1L; var maxF = 1L
      u.foreach { case (_, (f1, f2)) =>
        maxU = math.max(maxU, math.max(math.abs(f1), math.abs(f2))) }
      v.foreach { case (_, (f1, f2)) =>
        maxF = math.max(maxF, math.max(math.abs(f1), math.abs(f2))) }
      val scoreLongSafe =
        BigInt(maxU) * BigInt(maxF) * 2 < BigInt(Long.MaxValue)
      var j = 0
      while (j < n) {
        val uk = us(j); val ik = is(j)
        act(uk) = act.getOrElse(uk, 0L) + 1L
        val (u1, u2) = u(uk)
        val (f1, f2) = v(ik)
        // decimal(38,0) product-sum cast long: exact for in-range values
        val sc =
          if (scoreLongSafe) u1 * f1 + u2 * f2
          else (BigInt(u1) * BigInt(f1) + BigInt(u2) * BigInt(f2)).toLong
        val better = bestScore.get(uk) match {
          case None => true
          case Some(s0) => sc > s0 || (sc == s0 && ik < bestItem(uk))
        }
        if (better) { bestScore(uk) = sc; bestItem(uk) = ik }
        j += 1
      }
      act.toArray.sortWith { case ((u1k, n1), (u2k, n2)) =>
        n1 > n2 || (n1 == n2 && u1k < u2k)
      }.take(topUsers).sortBy(_._1).iterator.map { case (uk, nItems) =>
        val (f1, f2) = u(uk)
        (uk, nItems, f1, f2, bestItem(uk), bestScore(uk))
      }
    }
    out.toDF(userCol, "n_items", "f1_milli", "f2_milli", "top_item",
      "top_score_milli2").orderBy(userCol)
  }
}
