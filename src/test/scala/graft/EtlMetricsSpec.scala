package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import graft.etl.{EtlMetrics, SalesJob}
import graft.queries.SalesFixture

/** observe()-based row-count metrics: counts ride along with existing
  * actions (no extra jobs) and reach the listener.
  */
class EtlMetricsSpec extends SparkSpec {

  test("SalesJob emits observed row counts for every stage") {
    val seen = TrieMap.empty[String, Long]
    val listener = EtlMetrics.onMetrics(spark)((name, rows) => seen.put(name, rows))
    try {
      val outputs = SalesJob.run(spark, SalesFixture.ensure("metricstest"), SalesFixture.schema)
      val validRows = outputs.valid.count()
      val invalidRows = outputs.invalid.count()
      // listener delivery is async on the listener bus — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !(seen.contains("sales_valid") && seen.contains("sales_invalid"))) Thread.sleep(50)
      assert(seen.get("sales_valid").contains(validRows))
      assert(seen.get("sales_invalid").contains(invalidRows))
      assert(seen.contains("sales_raw"), "raw scan count observed via the same actions")
    } finally spark.listenerManager.unregister(listener)
  }

  test("each output's observed count equals the data rows of its written CSV") {
    val seen = TrieMap.empty[String, Long]
    val listener = EtlMetrics.onMetrics(spark)((name, rows) => seen.put(name, rows))
    try {
      val outputs = SalesJob.run(spark, SalesFixture.ensure("metricstest"), SalesFixture.schema)
      val written = SalesJob.export(spark, outputs,
        Files.createTempDirectory("graft-metrics-").toString)
      // the fixture has no embedded newlines: one line per row
      val csvRows = written.map(p =>
        Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).size.toLong - 1)
      val names = Seq("sales_valid", "sales_invalid", "sales_summary")
      // the summary is written last; events arrive in order on the bus
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && !names.forall(seen.contains))
        Thread.sleep(50)
      assert(names.map(seen.get) === csvRows.map(Some(_)))
    } finally spark.listenerManager.unregister(listener)
  }
}
