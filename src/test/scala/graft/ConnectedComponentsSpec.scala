package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, LocalFinish}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .labelPropagation(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: chain, star, cycle, and separate components") {
    // chain 1-2-3-4-5 (diameter stresses iteration), star 10-{11,12,13},
    // 3-cycle 20-21-22-20, isolated pair 30-31
    val got = labels(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (31L, 30L)))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("labelPropagation: empty edge list converges to empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.labelPropagation(empty, "a", "b").count() === 0)
  }

  test("labelPropagation matches driver-side union-find on a random graph") {
    // deterministic pseudo-random graph: 120 nodes, 90 modular edges
    val edges = (0 until 90).map(i => ((i * 37 % 120).toLong, (i * 53 % 120).toLong))
      .filter { case (a, b) => a != b }
    val got = labels(edges)

    // brute-force union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    // union-find representative under min-merge = min id of the component
    assert(got === want)
    assert(got.nonEmpty)
    // the O(log n) star algorithm must agree on the same graph
    val viaStars = ConnectedComponents
      .alternatingStars(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(viaStars === want)
  }

  test("dupGroups: group id is min doc id, sizes cover every member") {
    val pairs = Seq((5L, 3L), (3L, 9L), (100L, 101L)).toDF("doc_a", "doc_b")
    val got = ConnectedComponents.dupGroups(pairs, "doc_a", "doc_b")
      .select("doc_id", "group_id", "group_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (3L, 3L, 3L), (5L, 3L, 3L), (9L, 3L, 3L),
      (100L, 100L, 2L), (101L, 100L, 2L)))
  }

  test("alternatingStars agrees with labelPropagation on mixed graphs") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (31L, 30L))
    val viaStars = ConnectedComponents
      .alternatingStars(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(viaStars === labels(edges))
  }

  test("alternatingStars converges in O(log n) rounds on a 200-node chain") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    // diameter 199: labelPropagation would need ~200 rounds; the star
    // algorithm must finish within its default 20-round budget
    val got = ConnectedComponents.alternatingStars(chain, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 200 && got.values.forall(_ === 0L))
  }

  test("alternatingStars handles duplicate/reversed/self edges and empties") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 1L)).toDF("a", "b")
    val got = ConnectedComponents.alternatingStars(messy, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.alternatingStars(empty, "a", "b").count() === 0)
  }

  test("labelPropagation fails loudly when maxIter is below the diameter") {
    // localFinishCap = 0 forces the distributed loop — under the
    // default cap the one-task finisher would legitimately converge
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.labelPropagation(chain, "a", "b", maxIter = 2,
        localFinishCap = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("local finisher ≡ distributed loops on a random graph (both ops)") {
    // the two-regime gate: localFinishCap = 0 pins the pure
    // distributed rounds; the default cap takes the one-task
    // union–find. Same (node, label) table row-for-row.
    val edges = (0 until 150)
      .map(i => ((i * 29 % 170).toLong, (i * 71 % 170).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val lpLocal = ConnectedComponents
      .labelPropagation(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val lpDist = ConnectedComponents
      .labelPropagation(edges, "a", "b", localFinishCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(lpLocal === lpDist)
    val asLocal = ConnectedComponents
      .alternatingStars(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val asDist = ConnectedComponents
      .alternatingStars(edges, "a", "b", localFinishCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(asLocal === asDist && asLocal === lpLocal)
  }

  test("local finisher handles string ids in UTF-8 byte order") {
    // U+10000 (surrogate pair in UTF-16) vs U+FFFD: java compareTo
    // sorts the surrogate pair FIRST; Spark's binary-collation min
    // sorts it LAST. The local path must agree with Spark.
    val hi = new String(Character.toChars(0x10000))
    val lo = "�"
    val edges = Seq((hi, lo), ("b", "a"), ("a", lo)).toDF("x", "y")
    val viaLocal = ConnectedComponents.alternatingStars(edges, "x", "y")
      .as[(String, String)].collect().toMap
    val viaDist = ConnectedComponents
      .alternatingStars(edges, "x", "y", localFinishCap = 0L)
      .as[(String, String)].collect().toMap
    assert(viaLocal === viaDist)
    assert(viaLocal.values.toSet === Set("a"))
    assert(viaLocal(hi) === "a" && viaLocal(lo) === "a")
  }

  test("alternatingStars mid-loop local finish matches the fixpoint") {
    // cap sized so the FIRST check (input edge count) fails but a
    // later round's rewired-and-merged edge list passes it: a dense
    // 40-node graph starts at ~150 distinct edges and star rounds
    // collapse parallel attachments toward the ≤39-edge star forest,
    // crossing cap = 100 mid-loop.
    val dense = (0 until 200)
      .map(i => ((i * 7 % 40).toLong, (i * 11 % 40).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val got = ConnectedComponents
      .alternatingStars(dense, "a", "b", localFinishCap = 100L)
      .as[(Long, Long)].collect().toMap
    val want = ConnectedComponents
      .alternatingStars(dense, "a", "b", localFinishCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got === want && got.nonEmpty)
  }

  test("null ids: the local finisher returns what the distributed rounds return") {
    // the distributed equi-joins never match a null id: a null-endpoint
    // edge merges nothing, its non-null endpoint is still a node, and
    // the null node keeps its initial closed-neighborhood minimum
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(5L)),
      (Some(7L), None), (None, None), (Some(8L), Some(9L)))
      .toDF("a", "b")
    def run(cap: Long) = ConnectedComponents
      .labelPropagation(edges, "a", "b", localFinishCap = cap)
      .as[(Option[Long], Option[Long])].collect().toSet
    val dist = run(0L)
    assert(dist === Set(
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(1L)),
      (Some(5L), Some(5L)), (Some(7L), Some(7L)), (None, Some(5L)),
      (Some(8L), Some(8L)), (Some(9L), Some(8L))))
    assert(run(LocalFinish.GraphEdges) === dist)
  }
}
