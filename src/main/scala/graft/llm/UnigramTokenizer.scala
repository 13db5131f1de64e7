package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.LocalFinish

/** Unigram-LM tokenizer training (X295; Kudo ACL'18 — the
  * SentencePiece unigram model, the OTHER trained tokenizer family
  * next to [[TextOps.bpeTrain]]'s merge loop): seed a substring
  * vocabulary, then alternate Viterbi segmentation of the corpus under
  * current piece costs with piece re-estimation from the segmentation
  * counts — hard (Viterbi) EM, the deterministic variant, which makes
  * the whole fit exactly replayable (soft-EM expected counts are sums
  * of float products with no stable quantization; the hard-EM argmax
  * is integer comparisons all the way down).
  *
  * Determinism:
  *  - piece costs are −ln p in integer micro-nats, each cost an ln
  *    PAIR on integer-valued doubles (⌊ln(den)·10⁶+0.5⌋ −
  *    ⌊ln(num)·10⁶+0.5⌋ — the X276 discipline), so Viterbi totals are
  *    exact integer sums;
  *  - the per-position argmin tie-breaks by (total cost, piece) — a
  *    total order (for a fixed end position, equal piece strings
  *    imply the same span);
  *  - seeding: all substrings up to `maxPieceLen` with weighted
  *    occurrence frequency ≥ `minFreq`, UNION all single characters
  *    (the coverage floor that keeps every position reachable);
  *    re-estimation keeps pieces with ≥ 1 Viterbi use OR length 1
  *    (SentencePiece's prune, with the same coverage floor) and
  *    applies add-one smoothing.
  *
  * Scale: everything is keyed by the DISTINCT-WORD table (vocabulary-
  * bounded — the corpus is touched once for word counts); spans are
  * vocab × wordLen × maxPieceLen rows; each Viterbi position step and
  * each backward cursor step is one equi-join + one per-word argmin
  * window on that vocab-bounded table, checkpointed (tiny frames, and
  * the accumulated dp is referenced by every later step). Words
  * longer than `maxWordLen` are excluded from training (the sentence-
  * length cap every tokenizer trainer applies; the corpus max here is
  * 8, so nothing is actually dropped — documented, not silent).
  *
  * Output: (rank, piece, n_uses, cost_micro, total_tokens) — the
  * top-`topK` pieces of the final vocabulary by segmentation use,
  * with the corpus token count under the final segmentation (the
  * compression readout; lower = better tokenizer).
  */
object UnigramTokenizer {

  private def lnMicro(x: Column): Column =
    floor(log(x.cast("double")) * 1000000.0 + 0.5).cast("long")

  def train(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      maxWordLen: Int = 8, minFreq: Long = 20L, rounds: Int = 2,
      topK: Int = 30,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localCap: Long = LocalFinish.Words)
      : DataFrame = {
    require(rounds >= 1 && maxPieceLen >= 1 && maxWordLen >= 1 && topK >= 1,
      "bad unigram trainer parameters")
    val wc = materialize(df
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("c")))
    // Two-regime cut-over (r16; the MST/CC/suffix-array local-finisher
    // discipline): the training state is VOCABULARY-bounded — spans are
    // ≤ maxWordLen·maxPieceLen rows per distinct word — and the
    // distributed loop costs ~37 checkpoints + ~105 AQE stage jobs of
    // pure scheduler/planning overhead at test scale (7.6 s wall of
    // which ~4 s is driver time between sub-second jobs). Under the cap
    // (distinct words) the whole hard-EM fit runs in ONE task over the
    // word-count table ([[localTrain]]); above it the distributed loop
    // runs unchanged. 200k words ≈ 6.4M span entries ≈ well inside one
    // task's memory.
    if (LocalFinish.fits("UnigramTokenizer.train", localCap)(wc.count()))
      return localTrain(wc, maxPieceLen, maxWordLen, minFreq, rounds, topK)
    // all (start, len) spans of every distinct word
    val spans = materialize(wc
      .select(col("w"), col("c"), explode(sequence(lit(1), length(col("w"))))
        .as("i"))
      .select(col("w"), col("c"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1)))
          .as("l"))
      .select(col("w"), col("c"), col("i"), (col("i") + col("l") - 1).as("j"),
        expr("substring(w, i, l)").as("piece"), col("l")))
    // seed: frequent substrings + the single-char coverage floor
    val freq = spans.groupBy("piece").agg(sum("c").as("f"))
    val seed = freq
      .filter(col("f") >= minFreq || length(col("piece")) === 1)
    var pieces = materialize {
      val tot = seed.agg(sum("f").as("_tf"))
      seed.crossJoin(broadcast(tot))
        .select(col("piece"),
          (lnMicro(col("_tf")) - lnMicro(col("f"))).as("cost"))
    }
    var uses: DataFrame = null
    (1 to rounds).foreach { _ =>
      val scored = materialize(spans
        .join(pieces, "piece")
        .select(col("w"), col("c"), col("i"), col("j"), col("piece"),
          col("l"), col("cost")))
      // Viterbi forward: dp(w, pos) with argmin piece, pos = 0..maxWordLen;
      // dp accumulates as a RUNNING union of checkpointed levels (a
      // per-position re-union of all levels would grow the plan
      // quadratically in maxWordLen for no reason)
      var dp = materialize(
        wc.select(col("w"), lit(0).as("pos"), lit(0L).as("dp"),
          lit("").as("piece"), lit(0).as("l")))
      (1 to maxWordLen).foreach { pos =>
        val step = scored.filter(col("j") === pos)
          .join(dp.select(col("w"), (col("pos") + 1).as("i"),
            col("dp").as("_prev")), Seq("w", "i"))
          .withColumn("_tot", col("_prev") + col("cost"))
          .withColumn("_rn", row_number().over(Window.partitionBy("w")
            .orderBy(col("_tot"), col("piece"))))
          .filter(col("_rn") === 1)
          .select(col("w"), lit(pos).as("pos"), col("_tot").as("dp"),
            col("piece"), col("l"))
        dp = dp.unionByName(materialize(step))
      }
      // backward: walk argmin pieces from len(w) to 0
      var cursor = materialize(wc.select(col("w"), col("c"),
        length(col("w")).as("pos")))
      val emitted = Seq.newBuilder[DataFrame]
      (1 to maxWordLen).foreach { _ =>
        val stepRows = materialize(cursor.filter(col("pos") > 0)
          .join(dp.select(col("w"), col("pos"), col("piece"), col("l")),
            Seq("w", "pos")))
        emitted += stepRows.select(col("w"), col("c"), col("piece"))
        cursor = materialize(stepRows
          .select(col("w"), col("c"), (col("pos") - col("l")).as("pos")))
      }
      uses = materialize(emitted.result().reduce(_ unionByName _)
        .groupBy("piece").agg(sum("c").as("n_uses")))
      // prune + add-one re-estimate
      val kept = pieces.select("piece")
        .join(uses, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("n_uses"), lit(0L)).as("n_uses"))
        .filter(col("n_uses") >= 1 || length(col("piece")) === 1)
      val tot = kept.agg(sum("n_uses").as("_tu"), count(lit(1)).as("_np"))
      pieces = materialize(kept.crossJoin(broadcast(tot))
        .select(col("piece"),
          (lnMicro(col("_tu") + col("_np"))
            - lnMicro(col("n_uses") + 1)).as("cost")))
    }
    val totalTokens = uses.agg(sum("n_uses").as("total_tokens"))
    uses.join(pieces, "piece")
      .crossJoin(broadcast(totalTokens))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_uses").desc, col("piece"))))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("piece"), col("n_uses"),
        col("cost").as("cost_micro"), col("total_tokens"))
      .orderBy("rank")
  }

  /** ONE-task exact replay of the hard-EM fit over the word-count
    * table — every arithmetic step mirrors the distributed loop:
    * integer micro-nat ln pairs (JVM Math.log, the same evaluator Spark
    * codegen calls), Viterbi argmin tie-broken by (total cost, piece)
    * with piece strings compared as UNSIGNED UTF-8 BYTES (Spark's
    * binary sort order), substring/length semantics on CODE POINTS
    * (Spark's UTF8String.numChars/substring). The single-char coverage
    * floor keeps every dp position reachable, exactly as in the
    * distributed rounds.
    */
  private def localTrain(wc: DataFrame, maxPieceLen: Int, maxWordLen: Int,
      minFreq: Long, rounds: Int, topK: Int): DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    def lnMicroL(x: Long): Long =
      math.floor(math.log(x.toDouble) * 1000000.0 + 0.5).toLong
    wc.select(col("w"), col("c").cast("long").as("c"))
      .as[(String, Long)].coalesce(1).mapPartitions { it =>
        val words = it.toArray
        if (words.isEmpty) Iterator.empty
        else {
          // code-point views, precomputed once
          val cps: Array[Array[Int]] =
            words.map { case (w, _) => w.codePoints.toArray }
          def pieceOf(cp: Array[Int], from: Int, len: Int): String =
            new String(cp, from, len)
          // ---- seed: frequent substrings + single-char floor
          val freq = new java.util.HashMap[String, java.lang.Long]()
          var wi = 0
          while (wi < words.length) {
            val c = words(wi)._2
            val cp = cps(wi)
            var i = 0
            while (i < cp.length) {
              var l = 1
              val lmax = math.min(maxPieceLen, cp.length - i)
              while (l <= lmax) {
                val p = pieceOf(cp, i, l)
                val prev = freq.get(p)
                freq.put(p, if (prev == null) c else prev.longValue() + c)
                l += 1
              }
              i += 1
            }
            wi += 1
          }
          var cost = new java.util.HashMap[String, java.lang.Long]()
          locally {
            var totF = 0L
            val seed = new java.util.ArrayList[(String, Long)]()
            val seedIt = freq.entrySet().iterator()
            while (seedIt.hasNext) {
              val e = seedIt.next()
              val p = e.getKey
              val f = e.getValue.longValue()
              if (f >= minFreq || p.codePointCount(0, p.length) == 1) {
                seed.add((p, f)); totF += f
              }
            }
            val lnTot = lnMicroL(totF)
            seed.forEach { case (p, f) => cost.put(p, lnTot - lnMicroL(f)) }
          }
          var uses = new java.util.HashMap[String, java.lang.Long]()
          var round = 1
          while (round <= rounds) {
            uses = new java.util.HashMap[String, java.lang.Long]()
            wi = 0
            while (wi < words.length) {
              val c = words(wi)._2
              val cp = cps(wi)
              val n = cp.length
              val dp = new Array[Long](n + 1)
              val dpPiece = new Array[String](n + 1)
              val dpLen = new Array[Int](n + 1)
              var pos = 1
              while (pos <= n) {
                var bestTot = Long.MaxValue
                var bestP: String = null
                var bestL = 0
                var l = 1
                val lmax = math.min(maxPieceLen, pos)
                while (l <= lmax) {
                  val p = pieceOf(cp, pos - l, l)
                  val pc = cost.get(p)
                  if (pc != null) {
                    val tot = dp(pos - l) + pc.longValue()
                    if (tot < bestTot ||
                        (tot == bestTot && utf8Cmp(p, bestP) < 0)) {
                      bestTot = tot; bestP = p; bestL = l
                    }
                  }
                  l += 1
                }
                dp(pos) = bestTot; dpPiece(pos) = bestP; dpLen(pos) = bestL
                pos += 1
              }
              // backward walk
              pos = n
              while (pos > 0) {
                val p = dpPiece(pos)
                val prev = uses.get(p)
                uses.put(p, if (prev == null) c else prev.longValue() + c)
                pos -= dpLen(pos)
              }
              wi += 1
            }
            // prune + add-one re-estimate over the CURRENT piece set
            val kept = new java.util.ArrayList[(String, Long)]()
            var tu = 0L
            val pIt = cost.keySet().iterator()
            while (pIt.hasNext) {
              val p = pIt.next()
              val u = uses.get(p)
              val n = if (u == null) 0L else u.longValue()
              if (n >= 1 || p.codePointCount(0, p.length) == 1) {
                kept.add((p, n)); tu += n
              }
            }
            val np = kept.size().toLong
            val lnDen = lnMicroL(tu + np)
            val next = new java.util.HashMap[String, java.lang.Long]()
            kept.forEach { case (p, n) => next.put(p, lnDen - lnMicroL(n + 1)) }
            cost = next
            round += 1
          }
          var totalTokens = 0L
          val uIt = uses.values().iterator()
          while (uIt.hasNext) totalTokens += uIt.next().longValue()
          val ranked = new java.util.ArrayList[(String, Long)]()
          uses.forEach { case (p, n) => ranked.add((p, n.longValue())) }
          ranked.sort(new java.util.Comparator[(String, Long)] {
            def compare(a: (String, Long), b: (String, Long)): Int = {
              val d = java.lang.Long.compare(b._2, a._2)
              if (d != 0) d else utf8Cmp(a._1, b._1)
            }
          })
          val k = math.min(topK, ranked.size())
          (0 until k).iterator.map { r =>
            val (p, n) = ranked.get(r)
            (r + 1, p, n, cost.get(p).longValue(), totalTokens)
          }
        }
      }.toDF("rank", "piece", "n_uses", "cost_micro", "total_tokens")
  }
}
