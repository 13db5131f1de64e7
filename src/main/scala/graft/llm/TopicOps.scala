package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.LocalFinish

/** Topic modeling over the documents table (X293; pLSA — Hofmann
  * SIGIR'99, the EM ancestor of LDA) — the corpus-structure family the
  * surface lacked: "what mixtures of word distributions generated this
  * corpus", the unsupervised complement to the supervised classifier
  * (X198) and the MI screening (X283).
  */
object TopicOps {

  private def dec(x: Column): Column = x.cast("decimal(38,0)")

  /** Token-count bound for the one-task local finishers: with total
    * corpus tokens T ≤ 2·10¹¹, every per-topic word mass t_z ≤ T·10⁶ ≤
    * 2·10¹⁷ and every M-step denominator stays under 10¹⁸, so all local
    * sums fit Long and the staged divisions never need BigInt. (At the
    * 2M-nnz row cap a real corpus is orders of magnitude below this;
    * the bound exists so the Long-exactness proof is unconditional.)
    */
  private val MaxLocalTokens = 200000000000L

  /** pLSA by `rounds` unrolled EM iterations, all-integer (X56/X192
    * replayable-loop discipline):
    *
    *  - model: P(w,d) = Σ_z p(z|d)·p(w|z); parameters p(z|d) in MICRO
    *    (10⁶) and p(w|z) in NANO (10⁹ — per-topic word masses are
    *    corpus-scale, and a micro floor would zero rare words'
    *    probabilities; nano keeps every smoothed probability nonzero
    *    up to ~10⁹ weighted tokens per topic — the documented
    *    envelope, raise the scale beyond it);
    *  - E-step: r(z|d,w) = ⌊pzd·pwz·10⁶ / Σ_z pzd·pwz⌋ (numerators
    *    ≤ 10¹⁵ per z; the ·10⁶ product routes through decimal(38,0));
    *  - M-step with add-one smoothing (keeps every probability
    *    nonzero so no E-step denominator can hit 0):
    *    p(w|z) = ⌊(S_zw+1)·10⁹ / (Σ_w S_zw + |V|)⌋,
    *    p(z|d) = ⌊(S_dz+1)·10⁶ / (Σ_z S_dz + K)⌋,
    *    S = Σ n(d,w)·r — exact integer sums;
    *  - init: deterministic keyed-md5 raw weights 1 + h%5, normalized
    *    the same way — identical in both engines, no RNG.
    *
    * All divisions have nonnegative operands — [[TextOps.floorDivDec]]
    * ≡ DuckDB `//`.
    *
    * Scale: the E-step table is nnz(d,w)·K rows built by two hash
    * equi-joins (on d against the |docs|×K mixture table, on (w,z)
    * against the vocab×K topic table); every M-step aggregation gets
    * map-side partial combine and shuffles vocab×K or docs×K rows.
    * Each round is checkpointed (the output feeds two joins next
    * round — unmaterialized, the plan doubles per round, the X192
    * lesson). Driver never sees data; the vocabulary size rides a
    * broadcast 1-row count.
    *
    * Output: (topic, rank, word, p_nano, weight) — top `topWords`
    * per topic by (p desc, word), where weight = S_zw.
    */
  def plsaTopics(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, rounds: Int = 3, topWords: Int = 8,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.FeatureRows)
      : DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val n = materialize(docs
      .select(col(idCol).as("d"), explode(TextOps.words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("d", "w").agg(count(lit(1)).as("n")))
    plsaTopicsN(n, k, rounds, topWords, materialize, localFinishCap)
  }

  /** [[plsaTopics]] body from the (d, w, n) counts table on — split out
    * so [[plsaFoldIn]] can gate its combined local finisher on the base
    * AND batch nnz without tokenizing the base corpus twice.
    */
  private def plsaTopicsN(n: DataFrame, k: Int, rounds: Int, topWords: Int,
      materialize: DataFrame => DataFrame, localFinishCap: Long)
      : DataFrame = {
    val spark = n.sparkSession
    import spark.implicits._
    // LOCAL FINISH (r16, the Mst/CC/Als discipline): the whole EM fit is
    // nnz(d,w)-bounded — each round is two joins + three aggs over
    // nnz×K rows — but the unrolled distributed loop pays ~30 AQE/
    // checkpoint barrier jobs per fit (measured 88 warm jobs for
    // llm_topic_incremental). Below the cap ONE task replays the
    // identical integer EM: same md5 inits, same floor divisions
    // (exact staged Long division ≡ decimal(38,0) floorDivDec), same
    // (p desc, word) tie-breaks under UTF-8-byte string order. Above
    // the cap the distributed rounds run unchanged (the 100 TB path).
    // The token bound keeps every local sum provably inside Long
    // (see localEm); TopicModelSpec pins local == distributed. One job
    // counts rows and tokens, and only when the gate asks for it.
    lazy val r0 = n.agg(count(lit(1)), coalesce(sum("n"), lit(0L))).head()
    if (LocalFinish.fits("TopicOps.plsaTopics", localFinishCap,
          LocalFinish.longIds(n, "d"))(r0.getLong(0)) &&
        r0.getLong(1) <= MaxLocalTokens)
      return localPlsa(n, k, rounds, topWords)
    val zs = broadcast((0 until k).toDF("z"))
    def hmod(prefix: String, a: Column, b: Column): Column =
      expr(s"cast(conv(substring(md5(concat('$prefix', " +
        s"cast(${a.toString} as string), '|', cast(${b.toString} as string)" +
        s")), 1, 15), 16, 10) as bigint)") % 5 + 1
    // init p(z|d): raw 1+h%5 per (d,z), micro-normalized per doc
    var pzd = materialize {
      val raw = n.select("d").distinct().crossJoin(zs)
        .withColumn("_r", hmod("plsa_d|", col("d"), col("z")))
      raw.withColumn("_t", sum("_r").over(Window.partitionBy("d")))
        .select(col("d"), col("z"),
          TextOps.floorDivDec(dec(col("_r")) * lit(1000000L),
            dec(col("_t"))).cast("long").as("p"))
    }
    // init p(w|z): raw per (w,z), nano-normalized per topic over vocab
    var pwz = materialize {
      val raw = n.select("w").distinct().crossJoin(zs)
        .withColumn("_r", hmod("plsa_w|", col("w"), col("z")))
      raw.withColumn("_t", sum("_r").over(Window.partitionBy("z")))
        .select(col("w"), col("z"),
          TextOps.floorDivDec(dec(col("_r")) * lit(1000000000L),
            dec(col("_t"))).cast("long").as("p"))
    }
    val vocab = n.select("w").distinct().agg(count(lit(1)).as("_v"))
    var sw: DataFrame = null
    (1 to rounds).foreach { _ =>
      // pinned: the E-step frame (two joins + a (d,w) window) feeds
      // BOTH M-step aggregations — unmaterialized it runs twice/round
      val e = materialize(n
        .join(pzd.select(col("d"), col("z"), col("p").as("_pzd")), "d")
        .join(pwz.select(col("w"), col("z"), col("p").as("_pwz")),
          Seq("w", "z"))
        .withColumn("_num", dec(col("_pzd")) * dec(col("_pwz")))
        .withColumn("_den", sum("_num").over(Window.partitionBy("d", "w")))
        .withColumn("_r", TextOps.floorDivDec(
          col("_num") * lit(1000000L), col("_den")).cast("long"))
        .select(col("d"), col("w"), col("z"),
          (col("n") * col("_r")).as("_s")))
      sw = materialize(e.groupBy("z", "w").agg(sum("_s").as("s")))
      pwz = materialize(sw
        .withColumn("_t", sum("s").over(Window.partitionBy("z")))
        .crossJoin(broadcast(vocab))
        .select(col("w"), col("z"),
          TextOps.floorDivDec((dec(col("s")) + 1) * lit(1000000000L),
            dec(col("_t")) + dec(col("_v"))).cast("long").as("p")))
      pzd = materialize(e.groupBy("d", "z").agg(sum("_s").as("s"))
        .withColumn("_t", sum("s").over(Window.partitionBy("d")))
        .select(col("d"), col("z"),
          TextOps.floorDivDec((dec(col("s")) + 1) * lit(1000000L),
            dec(col("_t")) + lit(k.toLong)).cast("long").as("p")))
    }
    pwz.join(sw, Seq("z", "w"))
      .withColumn("rank", row_number().over(Window.partitionBy("z")
        .orderBy(col("p").desc, col("w"))))
      .filter(col("rank") <= topWords)
      .select(col("z").as("topic"), col("rank").cast("int").as("rank"),
        col("w").as("word"), col("p").as("p_nano"),
        TextOps.floorDivDec(dec(col("s")), lit(1000000L).cast("decimal(38,0)"))
          .cast("long").as("weight"))
      .orderBy("topic", "rank")
  }

  /** Incremental topic assignment by FOLD-IN (X300; Hofmann SIGIR'99
    * §3.3 — the standard pLSA answer to "a new batch arrived"): the
    * topic-word table p(w|z) trained on the BASE corpus is FROZEN and
    * only the new documents' mixtures p(z|d) are inferred, by
    * `foldRounds` E-steps restricted to the batch — the
    * index-maintenance discipline (probe-vs-index, llm_suffix_
    * incremental / llm_pca_incremental) applied to topic models:
    * per-batch cost is batch-nnz×K, the base corpus is never
    * re-touched, and assignments are reproducible because the model
    * is pinned. (Full retraining drifts every historical assignment
    * each batch — the operational reason fold-in exists.)
    *
    * Training and fold-in use the SAME arithmetic as [[plsaTopics]]
    * (micro mixtures, nano topic probabilities, add-one smoothing,
    * keyed-md5 init — batch docs initialize with the same
    * `plsa_d|` hash rule, so a doc's init is independent of which
    * side it arrives on). A batch word absent from the base
    * vocabulary has no p(w|z) row and drops from the E-step (the
    * out-of-vocabulary contract every frozen-model scorer shares).
    *
    * Output: (idCol, topic, p_micro) for every batch doc × topic,
    * ordered — the batch docs' inferred mixtures.
    */
  def plsaFoldIn(baseDocs: DataFrame, batchDocs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, trainRounds: Int = 3,
      foldRounds: Int = 2,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.FeatureRows)
      : DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2")
    require(trainRounds >= 1, s"trainRounds ($trainRounds) must be >= 1")
    require(foldRounds >= 1, s"foldRounds ($foldRounds) must be >= 1")
    val spark = baseDocs.sparkSession
    import spark.implicits._
    val n = materialize(baseDocs
      .select(col(idCol).as("d"), explode(TextOps.words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("d", "w").agg(count(lit(1)).as("n")))
    val nB = materialize(batchDocs
      .select(col(idCol).as("d"), explode(TextOps.words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("d", "w").agg(count(lit(1)).as("n")))
    // LOCAL FINISH (r16): train + fold are both nnz-bounded; below the
    // combined cap ONE task replays the whole pipeline (see
    // [[plsaTopicsN]]'s gate for the argument). Above it, training
    // still gets its own gate inside plsaTopicsN and the fold rounds
    // run distributed.
    lazy val r0 = n.unionAll(nB)
      .agg(count(lit(1)), coalesce(sum("n"), lit(0L))).head()
    if (LocalFinish.fits("TopicOps.plsaFoldIn", localFinishCap,
          LocalFinish.longIds(n, "d") && LocalFinish.longIds(nB, "d"))(
          r0.getLong(0)) &&
        r0.getLong(1) <= MaxLocalTokens)
      return localPlsaFoldIn(n, nB, idCol, k, trainRounds, foldRounds)
    // train on the base; keep only the frozen topic-word table
    val trained = plsaTopicsN(n, k, trainRounds,
      topWords = Int.MaxValue, materialize = materialize,
      localFinishCap = localFinishCap)
    val pwz = materialize(trained.select(col("word").as("w"),
      col("topic").as("z"), col("p_nano").as("_pwz")))
    val zs = broadcast((0 until k).toDF("z"))
    def hmod(a: Column, b: Column): Column =
      expr("cast(conv(substring(md5(concat('plsa_d|', " +
        s"cast(${a.toString} as string), '|', cast(${b.toString} as string)" +
        ")), 1, 15), 16, 10) as bigint)") % 5 + 1
    var pzd = materialize {
      val raw = nB.select("d").distinct().crossJoin(zs)
        .withColumn("_r", hmod(col("d"), col("z")))
      raw.withColumn("_t", sum("_r").over(Window.partitionBy("d")))
        .select(col("d"), col("z"),
          TextOps.floorDivDec(dec(col("_r")) * lit(1000000L),
            dec(col("_t"))).cast("long").as("p"))
    }
    (1 to foldRounds).foreach { _ =>
      val e = nB
        .join(pzd.select(col("d"), col("z"), col("p").as("_pzd")), "d")
        .join(pwz, Seq("w", "z")) // OOV batch words drop here
        .withColumn("_num", dec(col("_pzd")) * dec(col("_pwz")))
        .withColumn("_den", sum("_num").over(Window.partitionBy("d", "w")))
        .withColumn("_r", TextOps.floorDivDec(
          col("_num") * lit(1000000L), col("_den")).cast("long"))
        .select(col("d"), col("z"), (col("n") * col("_r")).as("_s"))
      val upd = e.groupBy("d", "z").agg(sum("_s").as("s"))
        .withColumn("_t", sum("s").over(Window.partitionBy("d")))
        .select(col("d"), col("z"),
          TextOps.floorDivDec((dec(col("s")) + 1) * lit(1000000L),
            dec(col("_t")) + lit(k.toLong)).cast("long").as("p"))
      // an all-OOV doc has no E-step rows: it KEEPS its current
      // mixture instead of vanishing (left join + coalesce)
      pzd = materialize(pzd
        .select(col("d"), col("z"), col("p").as("_p0"))
        .join(upd.select(col("d"), col("z"), col("p").as("_p1")),
          Seq("d", "z"), "left")
        .select(col("d"), col("z"),
          coalesce(col("_p1"), col("_p0")).as("p")))
    }
    pzd.select(col("d").as(idCol), col("z").as("topic"),
        col("p").as("p_micro"))
      .orderBy(idCol, "topic")
  }

  // ---- one-task local finishers (r16) ---------------------------------

  /** floor(a·10^e / d) exactly, for 0 ≤ a ≤ d (so the result ≤ 10^e):
    * staged Long division in the largest power-of-10 chunks whose
    * remainder product cannot overflow; BigInt only when d >
    * Long.Max/10 (unreachable under [[MaxLocalTokens]]). Equals
    * [[TextOps.floorDivDec]] on these operands: both are the exact
    * mathematical floor.
    */
  private def fracScale(a: Long, e: Int, d: Long): Long = {
    if (d > Long.MaxValue / 10)
      return ((BigInt(a) * BigInt(10).pow(e)) / BigInt(d)).toLong
    var chunk = 0
    var p = 1L
    while (chunk < 18 && p <= Long.MaxValue / 10 / d) { p *= 10; chunk += 1 }
    var res = 0L
    var rem = a
    var left = e
    while (left > 0) {
      val s = math.min(left, chunk)
      var q = 1L
      var i = 0
      while (i < s) { q *= 10; i += 1 }
      val x = rem * q
      res = res * q + x / d
      rem = x % d
      left -= s
    }
    res
  }

  /** First 15 hex chars of md5(s) as a nonnegative Long — the exact
    * value of the distributed `conv(substring(md5(..), 1, 15), 16, 10)`
    * (top 60 bits of the digest). */
  private def h60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 15) {
      val b = d(i / 2) & 0xff
      acc = (acc << 4) | (if (i % 2 == 0) b >> 4 else b & 0xf)
      i += 1
    }
    acc
  }

  /** Parsed (d, w, n) triples with dense doc/word indices. */
  private final class Nnz {
    val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    private val dIdx = scala.collection.mutable.LongMap.empty[Int]
    private val wIdx = scala.collection.mutable.HashMap.empty[String, Int]
    val ed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ew = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ec = scala.collection.mutable.ArrayBuffer.empty[Long]
    def add(d: Long, w: String, c: Long): Unit = {
      ed += dIdx.getOrElseUpdate(d, { docIds += d; docIds.length - 1 })
      ew += wIdx.getOrElseUpdate(w, { words += w; words.length - 1 })
      ec += c
    }
    def wordIndex(w: String): Option[Int] = wIdx.get(w)
  }

  /** Keyed-md5 init mixtures for long doc ids — the local twin of the
    * distributed `hmod("plsa_d|", d, z)` raw weights + per-doc micro
    * normalization (raw·10⁶ ≤ 5·10⁶, direct Long division is exact). */
  private def initMixtures(ids: scala.collection.IndexedSeq[Long], k: Int)
      : Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val p = Array.ofDim[Long](ids.length, k)
    var di = 0
    while (di < ids.length) {
      val dStr = ids(di).toString
      val raw = new Array[Long](k)
      var t = 0L
      var z = 0
      while (z < k) {
        raw(z) = h60(md, s"plsa_d|$dStr|$z") % 5 + 1; t += raw(z); z += 1
      }
      z = 0
      while (z < k) { p(di)(z) = raw(z) * 1000000L / t; z += 1 }
      di += 1
    }
    p
  }

  /** Exact replay of the [[plsaTopicsN]] EM rounds on parsed triples.
    * Long-exactness under [[MaxLocalTokens]]: every E-step numerator
    * pzd·pwz ≤ 10¹⁵ and its denominator ≤ k·10¹⁵; every mass sum ≤
    * T·10⁶ ≤ 2·10¹⁷; [[fracScale]] stages the ·10^e divisions so no
    * intermediate exceeds Long. Returns (pzd, pwz, szw-of-last-round)
    * — szw is the distributed `sw`. */
  private def localEmTrain(nz: Nnz, k: Int, rounds: Int)
      : (Array[Array[Long]], Array[Array[Long]], Array[Array[Long]]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val nD = nz.docIds.length
    val nW = nz.words.length
    val pzd = initMixtures(nz.docIds, k)
    // init p(w|z): raw per (w,z), nano-normalized per topic over vocab
    val pwz = Array.ofDim[Long](nW, k)
    val rawW = Array.ofDim[Long](nW, k)
    val tz0 = new Array[Long](k)
    var wi = 0
    while (wi < nW) {
      val w = nz.words(wi)
      var z = 0
      while (z < k) {
        val r = h60(md, s"plsa_w|$w|$z") % 5 + 1
        rawW(wi)(z) = r; tz0(z) += r; z += 1
      }
      wi += 1
    }
    wi = 0
    while (wi < nW) {
      var z = 0
      while (z < k) {
        pwz(wi)(z) = rawW(wi)(z) * 1000000000L / tz0(z); z += 1
      }
      wi += 1
    }
    val nE = nz.ec.length
    var szw: Array[Array[Long]] = null
    var round = 1
    while (round <= rounds) {
      szw = Array.ofDim[Long](nW, k)
      val sdz = Array.ofDim[Long](nD, k)
      val nums = new Array[Long](k)
      var i = 0
      while (i < nE) {
        val d0 = nz.ed(i); val w0 = nz.ew(i); val c0 = nz.ec(i)
        var den = 0L
        var z = 0
        while (z < k) {
          nums(z) = pzd(d0)(z) * pwz(w0)(z); den += nums(z); z += 1
        }
        z = 0
        while (z < k) {
          val s = c0 * fracScale(nums(z), 6, den)
          szw(w0)(z) += s; sdz(d0)(z) += s
          z += 1
        }
        i += 1
      }
      val tz = new Array[Long](k)
      wi = 0
      while (wi < nW) {
        var z = 0
        while (z < k) { tz(z) += szw(wi)(z); z += 1 }
        wi += 1
      }
      val v = nW.toLong
      wi = 0
      while (wi < nW) {
        var z = 0
        while (z < k) {
          pwz(wi)(z) = fracScale(szw(wi)(z) + 1, 9, tz(z) + v); z += 1
        }
        wi += 1
      }
      var di = 0
      while (di < nD) {
        var t = 0L
        var z = 0
        while (z < k) { t += sdz(di)(z); z += 1 }
        z = 0
        while (z < k) {
          pzd(di)(z) = fracScale(sdz(di)(z) + 1, 6, t + k); z += 1
        }
        di += 1
      }
      round += 1
    }
    (pzd, pwz, szw)
  }

  /** One-task replay of [[plsaTopicsN]]: identical md5 inits, identical
    * exact-floor divisions, (p desc, word) ranking under UTF-8-byte
    * string order (= Spark's binary collation). */
  private def localPlsa(n: DataFrame, k: Int, rounds: Int, topWords: Int)
      : DataFrame = {
    val spark = n.sparkSession
    import spark.implicits._
    val out = n.as[(Long, String, Long)].coalesce(1).mapPartitions { it =>
      val nz = new Nnz
      it.foreach { r => nz.add(r._1, r._2, r._3) }
      val (_, pwz, szw) = localEmTrain(nz, k, rounds)
      val nW = nz.words.length
      (0 until k).iterator.flatMap { z =>
        val order = (0 until nW).sortWith { (a, b) =>
          val pa = pwz(a)(z); val pb = pwz(b)(z)
          pa > pb || (pa == pb && graft.operators.ConnectedComponents
            .utf8Lt(nz.words(a), nz.words(b)))
        }
        order.take(math.min(topWords, nW)).iterator.zipWithIndex.map {
          case (wi, i) =>
            (z, i + 1, nz.words(wi), pwz(wi)(z), szw(wi)(z) / 1000000L)
        }
      }
    }
    out.toDF("topic", "rank", "word", "p_nano", "weight")
      .orderBy("topic", "rank")
  }

  /** One-task replay of the whole fold-in pipeline (train on base,
    * freeze p(w|z), fold the batch): identical arithmetic, identical
    * OOV-drop and keep-mixture-when-all-OOV semantics. */
  private def localPlsaFoldIn(n: DataFrame, nB: DataFrame, idCol: String,
      k: Int, trainRounds: Int, foldRounds: Int): DataFrame = {
    val spark = n.sparkSession
    import spark.implicits._
    val tagged = n.select(col("d"), col("w"), col("n"), lit(0).as("_src"))
      .unionAll(nB.select(col("d"), col("w"), col("n"), lit(1).as("_src")))
    val out = tagged.as[(Long, String, Long, Int)].coalesce(1)
      .mapPartitions { it =>
        val nz = new Nnz
        val bd = scala.collection.mutable.ArrayBuffer.empty[Long]
        val bIdx = scala.collection.mutable.LongMap.empty[Int]
        val be = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
        it.foreach { r =>
          if (r._4 == 0) nz.add(r._1, r._2, r._3)
          else {
            val di = bIdx.getOrElseUpdate(r._1, { bd += r._1; bd.length - 1 })
            be += ((di, r._2, r._3))
          }
        }
        val (_, pwz, _) = localEmTrain(nz, k, trainRounds)
        // batch entries restricted to the base vocabulary (OOV drop)
        val ed = scala.collection.mutable.ArrayBuffer.empty[Int]
        val ew = scala.collection.mutable.ArrayBuffer.empty[Int]
        val ec = scala.collection.mutable.ArrayBuffer.empty[Long]
        be.foreach { case (di, w, c) =>
          nz.wordIndex(w).foreach { wi => ed += di; ew += wi; ec += c }
        }
        val nD = bd.length
        val pzd = initMixtures(bd, k)
        val nE = ec.length
        var round = 1
        while (round <= foldRounds) {
          val sdz = Array.ofDim[Long](nD, k)
          val touched = new Array[Boolean](nD)
          val nums = new Array[Long](k)
          var i = 0
          while (i < nE) {
            val d0 = ed(i); val w0 = ew(i); val c0 = ec(i)
            var den = 0L
            var z = 0
            while (z < k) {
              nums(z) = pzd(d0)(z) * pwz(w0)(z); den += nums(z); z += 1
            }
            z = 0
            while (z < k) {
              sdz(d0)(z) += c0 * fracScale(nums(z), 6, den); z += 1
            }
            touched(d0) = true
            i += 1
          }
          // an all-OOV doc has no E-step rows: it KEEPS its mixture
          var di = 0
          while (di < nD) {
            if (touched(di)) {
              var t = 0L
              var z = 0
              while (z < k) { t += sdz(di)(z); z += 1 }
              z = 0
              while (z < k) {
                pzd(di)(z) = fracScale(sdz(di)(z) + 1, 6, t + k); z += 1
              }
            }
            di += 1
          }
          round += 1
        }
        bd.indices.sortBy(bd(_)).iterator.flatMap { di =>
          (0 until k).iterator.map(z => (bd(di), z, pzd(di)(z)))
        }
      }
    out.toDF(idCol, "topic", "p_micro").orderBy(idCol, "topic")
  }
}
