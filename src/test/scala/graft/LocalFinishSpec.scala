package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.operators.{LocalFinish, LocalGraph}

/** The shared two-regime gate: cap boundaries, the ×2 clamp, null ids
  * forcing the distributed regime, cap 0 and unsupported ids running no
  * Spark job, the decision log line, and the CSR layout of the replays'
  * graph.
  */
class LocalFinishSpec extends SparkSpec {
  import spark.implicits._

  test("rows == cap selects the local regime, cap + 1 rows does not") {
    val five = (1L to 5L).toDF("x")
    assert(LocalFinish.fits("t", 5L)(five.count()))
    assert(!LocalFinish.fits("t", 4L)(five.count()))
    // a symmetric list of 10 rows is 5 input edges
    val ten = (1L to 10L).toDF("x")
    assert(LocalFinish.fits("t", 5L, symmetric = true)(ten.count()))
    assert(!LocalFinish.fits("t", 4L, symmetric = true)(ten.count()))
  }

  test("the doubled cap of a symmetric list is clamped, not wrapped") {
    // 2 × Long.MaxValue wraps negative: an unclamped gate would turn
    // the local regime off for every input
    assert(LocalFinish.fits("t", Long.MaxValue, symmetric = true)(10L))
    assert(LocalFinish.fits("t", Long.MaxValue / 2 + 1, symmetric = true)(10L))
    assert(LocalFinish.fits("t", Long.MaxValue)(Long.MaxValue))
  }

  test("rows reports a null in a decoded column; null-id inputs never run local") {
    val df = Seq((Some(1L), 2L), (None, 3L)).toDF("a", "b")
    assert(LocalFinish.rows(df, "b") === 2L)
    assert(LocalFinish.rows(df, "a", "b") === LocalFinish.NullIds)
    assert(LocalFinish.rows(df.filter($"a".isNotNull), "a", "b") === 1L)
    assert(LocalFinish.rows(df.filter($"b" < 0), "a") === 0L)
    // not even under the clamped doubled cap, where Long.MaxValue ≤ cap
    assert(!LocalFinish.fits("t", Long.MaxValue, symmetric = true)(LocalFinish.NullIds))
    assert(!LocalFinish.fits("t", Long.MaxValue)(LocalFinish.NullIds))
  }

  test("cap <= 0 and unsupported ids never count and run no Spark job") {
    val sc = spark.sparkContext
    val df = (1L to 3L).toDF("x")
    var counted = 0
    def rows(): Long = { counted += 1; df.count() }
    val group = s"localfinish-off-${System.nanoTime}"
    sc.setJobGroup(group, "gates that must not count")
    try {
      assert(!LocalFinish.fits("t", 0L)(rows()))
      assert(!LocalFinish.fits("t", -1L, symmetric = true)(rows()))
      assert(!LocalFinish.fits("t", 100L, supported = false)(rows()))
    } finally sc.clearJobGroup()
    assert(counted === 0)
    // the status store is fed by the listener bus: once a later marker
    // job shows up, any job the gates launched would have shown up too
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "listener-bus marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      sc.statusTracker.getJobIdsForGroup(marker).isEmpty) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("every decision logs one INFO line: operator, rows, cap, regime") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("localfinish-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.synchronized {
        if (e.getLevel == Level.INFO) lines += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val logger = LogManager.getLogger("graft.localfinish").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      LocalFinish.fits("Op.a", 5L, symmetric = true)(7L)
      LocalFinish.fits("Op.b", 5L)(7L)
      LocalFinish.fits("Op.c", 0L)(7L)
      LocalFinish.fits("Op.d", 5L)(LocalFinish.NullIds)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    assert(lines.toSeq === Seq(
      "Op.a: rows=7 cap=10 regime=local",
      "Op.b: rows=7 cap=5 regime=distributed",
      "Op.c: rows=uncounted cap=0 regime=distributed",
      "Op.d: rows=null-ids cap=5 regime=distributed"))
  }

  test("LocalGraph: dense ids, CSR slots both ways, seeds kept in order") {
    val g = LocalGraph(Iterator(
      (0, 30L, 7L, 0L), (1, 10L, 20L, 5L), (1, 20L, 30L, 6L),
      (1, 10L, 10L, 1L), (0, 30L, 8L, 0L)), undirected = true)
    assert(g.ids.toSeq === Seq(30L, 10L, 20L))
    assert(g.seeds.toSeq === Seq(0, 0) && g.seedValue.toSeq === Seq(7L, 8L))
    assert((g.src.toSeq, g.dst.toSeq, g.weight.toSeq) ===
      ((Seq(1, 2, 1), Seq(2, 0, 1), Seq(5L, 6L, 1L))))
    def slots(v: Int) = (g.off(v) until g.off(v + 1))
      .map(k => (g.nbr(k), g.slotEdge(k))).sorted
    assert(slots(0) === Seq((2, 1)))
    assert(slots(1) === Seq((1, 2), (1, 2), (2, 0))) // self-loop: 2 slots
    assert(slots(2) === Seq((0, 1), (1, 0)))
    assert(g.degree(1) === 3)
    val directed = LocalGraph(Iterator((1, 10L, 20L, 0L)))
    assert(directed.degree(0) === 1 && directed.degree(1) === 0)
  }
}
