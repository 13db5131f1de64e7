package graft

import graft.operators.{LocalFinish, Sssp}

/** Hand-checked semantics for X270 weighted SSSP — min-plus vs hop
  * count, multi-seed minima, surplus-round idempotence, and the
  * unreached-absent contract.
  */
class SsspSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int) =
    Sssp.distances(edges.toDF("a", "b", "cost"), "a", "b", "cost",
        seeds.toDF("n"), rounds)
      .as[(Long, Long)].collect().toMap

  test("a cheap long path beats an expensive direct edge") {
    // 1-2 costs 10; 1-3-4-2 costs 1+1+1
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L),
      (4L, 2L, 1L))
    val got = run(edges, Seq(1L), rounds = 6)
    assert(got(2L) === 3L)   // min-plus, NOT the 1-hop edge
    assert(got(3L) === 1L && got(4L) === 2L && got(1L) === 0L)
  }

  test("surplus rounds are no-ops once the fixpoint is reached") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 5L))
    assert(run(edges, Seq(1L), 3) === run(edges, Seq(1L), 10))
  }

  test("multiple seeds: every node takes its cheapest seed") {
    // chain 1-2-3-4-5 unit costs, seeds at both ends
    val edges = (1L to 4L).map(i => (i, i + 1, 1L))
    val got = run(edges, Seq(1L, 5L), rounds = 6)
    assert(got(3L) === 2L)
    assert(got(2L) === 1L && got(4L) === 1L)
  }

  test("unreached nodes are absent, disconnected seeds read zero") {
    val edges = Seq((1L, 2L, 1L), (8L, 9L, 1L))
    val got = run(edges, Seq(1L, 7L), rounds = 4)
    assert(got === Map(1L -> 0L, 2L -> 1L, 7L -> 0L))
  }

  test("local finisher == distributed rounds, including mid-run rounds") {
    // deterministic pseudo-random weighted graph with cycles, multiple
    // components, and a round count BELOW the diameter so the
    // round-limited (non-fixpoint) semantics are exercised too
    val edges = (0L until 600L).map { i =>
      (i % 97, (i * 37 + 11) % 97, i % 13 + 1)
    } ++ Seq((200L, 201L, 2L), (201L, 202L, 2L))
    val seeds = Seq(0L, 5L, 200L)
    for (rounds <- Seq(1, 2, 6)) {
      val loc = run(edges, seeds, rounds)
      val dist = Sssp.distances(edges.toDF("a", "b", "cost"), "a", "b",
          "cost", seeds.toDF("n"), rounds, localFinishCap = 0L)
        .as[(Long, Long)].collect().toMap
      assert(loc === dist, s"rounds=$rounds")
    }
  }

  test("a null edge id takes the distributed regime under every cap") {
    // the distributed rounds reach the null endpoint through edge
    // (2, null); the one-task replay cannot decode it
    val edges = Seq((Some(1L), 2L, 1L), (None, 2L, 1L)).toDF("a", "b", "cost")
    def run(cap: Long) = Sssp.distances(edges, "a", "b", "cost",
        Seq(1L).toDF("n"), rounds = 3, localFinishCap = cap)
      .collect().map(x => (Option(x.get(0)), x.getLong(1))).toSet
    val viaDist = run(0L)
    assert(viaDist === Set((Some(1L), 0L), (Some(2L), 1L), (None, 2L)))
    assert(run(LocalFinish.GraphEdges) === viaDist)
    assert(run(Long.MaxValue) === viaDist)
  }

  test("a null seed id takes the distributed regime under every cap") {
    // the rounds keep the null seed at distance 0 and relax nothing from
    // it; the one-task replay cannot decode it
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("a", "b", "cost")
    def run(cap: Long) = Sssp.distances(edges, "a", "b", "cost",
        Seq(Some(1L), None).toDF("n"), rounds = 3, localFinishCap = cap)
      .collect().map(x => (Option(x.get(0)), x.getLong(1))).toSet
    val viaDist = run(0L)
    assert(viaDist ===
      Set((Some(1L), 0L), (Some(2L), 1L), (Some(3L), 2L), (None, 0L)))
    assert(run(LocalFinish.GraphEdges) === viaDist)
    assert(run(Long.MaxValue) === viaDist)
  }
}
