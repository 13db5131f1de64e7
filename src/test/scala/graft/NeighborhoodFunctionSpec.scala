package graft

import graft.operators.{LocalFinish, NeighborhoodFunction}

/** X307 sampled neighborhood function: hand-traced BFS profile over a
  * path + triangle + isolated seed, the 90%-reach flag marking the
  * effective diameter, and frontier dedup (triangle back-edges).
  */
class NeighborhoodFunctionSpec extends SparkSpec {

  import spark.implicits._

  test("hand-traced profile: path 1-2-3-4, triangle 5-6-7, isolated 9") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L))
    val sym = (und ++ und.map(_.swap)).toDF("a", "b")
    val seeds = Seq(1L, 9L, 5L).toDF("n")
    val out = NeighborhoodFunction.sample(sym, "a", "b", seeds, "n",
      maxHops = 5)
      .as[(Int, Long, Long, Boolean)].collect().toSeq
    // src 1 grows 1->2->3->4 along the path, src 5 absorbs its
    // triangle in one hop, src 9 never leaves itself; fin = 8
    assert(out === Seq(
      (0, 3L, 3L, false),
      (1, 6L, 3L, false),
      (2, 7L, 1L, false),
      (3, 8L, 1L, true), // first true row = sampled effective diameter
      (4, 8L, 0L, true),
      (5, 8L, 0L, true)))
  }

  test("duplicate seeds collapse and maxHops >= 1 is enforced") {
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    val seeds = Seq(1L, 1L, 1L).toDF("n")
    val out = NeighborhoodFunction.sample(sym, "a", "b", seeds, "n",
      maxHops = 2).as[(Int, Long, Long, Boolean)].collect().toSeq
    assert(out === Seq((0, 1L, 1L, false), (1, 2L, 1L, true),
      (2, 2L, 0L, true)))
    intercept[IllegalArgumentException] {
      NeighborhoodFunction.sample(sym, "a", "b", seeds, "n", maxHops = 0)
    }
  }

  test("local finisher == distributed hops") {
    import org.apache.spark.sql.functions.col
    val und = (0L until 500L).map(i => (i % 83, (i * 29 + 7) % 83))
      .filter(e => e._1 != e._2).distinct
    val sym = (und ++ und.map(_.swap)).toDF("a", "b")
    val seeds = Seq(0L, 11L, 82L, 200L).toDF("n")
    for (hops <- Seq(1, 3, 5)) {
      val loc = NeighborhoodFunction.sample(sym, "a", "b", seeds, "n",
        maxHops = hops).collect().toSeq
      val dist = NeighborhoodFunction.sample(sym, "a", "b", seeds, "n",
        maxHops = hops, localFinishCap = 0L).collect().toSeq
      assert(loc === dist, s"hops=$hops")
    }
  }

  test("a null seed id takes the distributed regime under every cap") {
    // the rounds count the null seed as one source at hop 0 and expand
    // nothing from it; the one-task replay cannot decode it
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    val seeds = Seq(Some(1L), None).toDF("n")
    def run(cap: Long) = NeighborhoodFunction.sample(sym, "a", "b", seeds,
        "n", maxHops = 2, localFinishCap = cap)
      .as[(Int, Long, Long, Boolean)].collect().toSeq
    val viaDist = run(0L)
    assert(viaDist === Seq((0, 2L, 2L, false), (1, 3L, 1L, false),
      (2, 4L, 1L, true)))
    assert(run(LocalFinish.GraphEdges) === viaDist)
    assert(run(Long.MaxValue) === viaDist)
  }
}
