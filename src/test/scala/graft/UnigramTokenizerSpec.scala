package graft

import graft.llm.UnigramTokenizer

/** X295 unigram tokenizer: Viterbi prefers the frequent whole-word
  * piece over characters, the single-char coverage floor segments
  * rare words, token accounting is exact, and the fit is
  * deterministic.
  */
class UnigramTokenizerSpec extends SparkSpec {

  import spark.implicits._

  private def run(text: Seq[String], minFreq: Long = 3L) =
    UnigramTokenizer.train(text.toDF("text"), "text",
        maxPieceLen = 4, maxWordLen = 8, minFreq = minFreq,
        rounds = 2, topK = 30)
      .select("rank", "piece", "n_uses", "cost_micro", "total_tokens")
      .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1)

  test("frequent word becomes one piece; its characters go unused") {
    val got = run(Seq.fill(20)("join").map(w => s"$w $w"))
    assert(got.head._2 === "join" && got.head._3 === 40L)
    // the char fallbacks survive pruning (coverage floor) but earn no
    // uses, so they never appear in the use table
    assert(!got.exists(r => Seq("j", "o", "i", "n").contains(r._2)))
    assert(got.head._5 === 40L) // total = one piece per occurrence
  }

  test("rare word still segments through the single-char floor") {
    val corpus = Seq.fill(20)("join join") :+ "zq"
    val got = run(corpus)
    val pieces = got.map(r => r._2 -> r._3).toMap
    // "zq" appears once (< minFreq): no "zq" piece, chars carry it
    assert(!pieces.contains("zq"))
    assert(pieces.get("z").contains(1L) && pieces.get("q").contains(1L))
    assert(got.head._5 === 42L) // 40 joins + z + q
  }

  test("a 5-char word splits under maxPieceLen = 4") {
    val got = run(Seq.fill(20)("batch batch"))
    val pieces = got.map(_._2).toSet
    // exactly two pieces per occurrence, concatenating to the word
    assert(got.head._5 === 80L)
    val parts = got.map(r => r._2 -> r._3).filter(_._2 === 40L).map(_._1)
    assert(parts.sorted.mkString("") == "batch"
      || parts.sorted.reverse.mkString("") == "batch"
      || parts.permutations.exists(_.mkString("") == "batch"),
      s"pieces $pieces do not reassemble the word")
  }

  test("deterministic: two fits are identical") {
    val corpus = Seq("spark join hash scan", "join hash", "spark scan join")
    def fit() = run(corpus, minFreq = 2L).toSeq
    assert(fit() === fit())
  }

  test("one-task local regime ≡ distributed loop (r16 gate)") {
    // localCap = 0 forces the distributed rounds on the same corpus the
    // default cap sends to the local finisher; the real test corpus
    // exercises ties, pruning, and the coverage floor together.
    val real = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(300).select(org.apache.spark.sql.functions.col("text"))
    def fit(cap: Long) =
      UnigramTokenizer.train(real, "text", maxPieceLen = 4, maxWordLen = 8,
          minFreq = 20L, rounds = 2, topK = 30, localCap = cap)
        .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val local = fit(Long.MaxValue)
    val dist = fit(0L)
    assert(local.nonEmpty, "vacuous equivalence")
    assert(local === dist)
  }

  test("empty corpus: both regimes agree, and cap 0 takes the distributed one") {
    val empty = Seq.empty[String].toDF("text")
    def fit(cap: Long) =
      UnigramTokenizer.train(empty, "text", localCap = cap)
        .as[(Int, String, Long, Long, Long)].collect().toSeq
    assert(fit(0L) === fit(Long.MaxValue))
  }
}
