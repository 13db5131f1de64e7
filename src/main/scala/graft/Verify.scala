package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names — restricts BOTH the
    // queries run and the oracle SQL emitted, so check_oracle.py compares
    // exactly that subset. Local-iteration convenience; the driver's
    // 2-arg invocation runs everything.
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    def selected(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus, "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // Oracle SQL may reference fixture/roundtrip paths keyed by the scale
    // factor under verification (e.g. /tmp/graft_k1_out/__SF__). Resolve
    // the placeholder HERE — Verify is the only component that knows which
    // sf it just ran — so the emitted SQL always reads the files this very
    // run wrote, never stale state from an earlier run at a different sf.
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v.replace("__SF__", sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Names whose result must be non-empty at verify scale — consumed by
    // tools/check_oracle.py so a 0-row result that matches an equally
    // empty oracle fails loudly instead of passing vacuously.
    Files.writeString(Paths.get(s"$outDir/expect_nonempty.json"),
      SparkEntry.expectNonEmpty.toSeq.sorted.map(Bench.jstr).mkString("[", ",", "]"))
    spark.stop()
  }
}
