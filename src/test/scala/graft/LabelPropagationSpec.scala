package graft

import graft.operators.{LabelPropagation, LocalFinish}

/** LPA: two dense cliques bridged by one weak edge must come out as TWO
  * communities (the refinement CC cannot give — CC merges them), and
  * synchronous rounds are deterministic.
  */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def cliqueEdges(nodes: Seq[Long], w: Long) =
    for { a <- nodes; b <- nodes if a < b } yield (a, b, w)

  test("weakly-bridged cliques split into two communities; CC would merge them") {
    val c1 = Seq(1L, 2L, 3L, 4L)
    val c2 = Seq(10L, 11L, 12L, 13L)
    val edges = (cliqueEdges(c1, 5L) ++ cliqueEdges(c2, 5L) :+ ((4L, 10L, 1L)))
      .toDF("a", "b", "w")
    val out = LabelPropagation.communities(edges, "a", "b", "w", rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === (c1 ++ c2).toSet)
    // each clique converges to ONE label (the smallest id in the clique
    // wins through the min-label tie-break), and the two labels differ
    val l1 = c1.map(out).distinct
    val l2 = c2.map(out).distinct
    assert(l1.size === 1, s"clique 1 not uniform: ${c1.map(out)}")
    assert(l2.size === 1, s"clique 2 not uniform: ${c2.map(out)}")
    assert(l1.head !== l2.head, "the weak bridge must not merge the cliques")
  }

  test("deterministic across invocations") {
    val edges = cliqueEdges(Seq(1L, 2L, 3L), 2L).toDF("a", "b", "w")
    val a = LabelPropagation.communities(edges, "a", "b", "w", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = LabelPropagation.communities(edges, "a", "b", "w", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
    // a triangle collapses to the min label
    assert(a.map(_._2).distinct === Seq(1L))
  }

  test("one-task replay ≡ distributed synchronous rounds") {
    // oscillation-prone near-bipartite region + weighted ties: the
    // round-r label table is a pure function of the graph, so the
    // local replay must match label-for-label at EVERY round count
    val edges = ((0 until 120)
      .map(i => ((i * 19 % 50).toLong, (i * 7 % 50).toLong, (i % 3 + 1).toLong))
      .filter { case (a, b, _) => a != b } ++
      Seq((100L, 101L, 2L), (101L, 102L, 2L), (102L, 100L, 2L)))
      .toDF("a", "b", "w")
    (1 to 6).foreach { r =>
      val viaLocal = LabelPropagation.communities(edges, "a", "b", "w", r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
      val viaDist = LabelPropagation
        .communities(edges, "a", "b", "w", r, localFinishCap = 0L)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
      assert(viaLocal === viaDist, s"divergence at rounds=$r")
    }
  }

  test("a null id takes the distributed regime under every cap") {
    // the one-task replay decodes ids as primitive longs, so only the
    // distributed rounds can answer this input, whatever the cap
    val edges = Seq((Some(1L), 2L, 1L), (None, 2L, 1L)).toDF("a", "b", "w")
    def run(cap: Long) = LabelPropagation
      .communities(edges, "a", "b", "w", rounds = 3, localFinishCap = cap)
      .collect().map(x => (Option(x.get(0)), x.getLong(1))).toSet
    val viaDist = run(0L)
    assert(viaDist.size === 3 && viaDist.exists(_._1.isEmpty))
    assert(run(LocalFinish.GraphEdges) === viaDist)
    assert(run(Long.MaxValue) === viaDist)
  }
}
