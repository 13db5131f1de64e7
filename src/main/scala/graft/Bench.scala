package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A query that throws is recorded under
  * `"errors"` (name → message) and EXCLUDED from the total, so a broken
  * query fails visibly instead of looking fast.
  *
  * Each query runs `SPARK_GRAFT_REPS` times (default 3); the reported
  * per-query number and the total are the MEDIAN across reps (min is also
  * published under `"queries_min"`). A single-iteration bench cannot
  * distinguish regression from machine noise — round 3 recorded 2.7–2.9×
  * per-query swings with zero Spark-side query changes.
  *
  * Two protocol properties, both r14-verdict fixes:
  *
  *  - HONEST ACTION (default `noop`): the timed action is a noop-format
  *    DataFrameWriter save, which pulls EVERY output column through the
  *    plan — `.count()` lets Catalyst prune projected columns the count
  *    doesn't need, so it under-priced projection-heavy queries by up to
  *    3.2× (llm_mcnemar 29.9 s pruned vs 95.8 s full at sf1,
  *    BASELINE.md r14). `SPARK_GRAFT_ACTION=count` keeps the old action
  *    for cross-table comparisons against pre-r15 recordings.
  *  - SESSION RECYCLING (`SPARK_GRAFT_RECYCLE`, default 25): the
  *    SparkSession is stopped and rebuilt every N queries, off the
  *    clock. Rounds 13 and 14 both recorded ~24 rows inflated 2–9× by
  *    suite-position state (ContextCleaner backlog / block-manager
  *    pressure from earlier queries in the same JVM) that targeted
  *    re-measures returned to sane values; the per-query System.gc()
  *    settle twice proved insufficient. Recycling bounds how much
  *    accumulated session state any query can inherit. Codegen caches
  *    (static, classloader-scoped) survive recycling, so re-warmup cost
  *    is the session bring-up only (~2–4 s per recycle).
  */
object Bench {
  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars (< 0x20, as `\u00XX`) escaped. A raw tab or CR (in oracle
    * SQL, say) would make `json.load` reject the whole file and silently
    * zero a correctness check. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val recycle = sys.env.getOrElse("SPARK_GRAFT_RECYCLE", "25").toInt.max(1)
    val action = sys.env.getOrElse("SPARK_GRAFT_ACTION", "noop")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def newSession(): SparkSession = {
      val s = GraftSession.builder(cpus, "graft-bench").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // Untimed JVM/codegen warmup so the first timed query after a
      // session build measures the query, not session bring-up.
      s.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
      s
    }
    var spark = newSession()
    def fmt(d: Double): String = f"$d%.3f"
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val runs = selected.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % recycle == 0) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
      }
      // Settle BETWEEN queries: a System.gc() lets the ContextCleaner
      // release the previous query's localCheckpoint/broadcast blocks
      // (cleanup is reference-triggered) so an iterative Lloyd-loop
      // query's memory pressure doesn't bleed into whoever runs next —
      // round 5 recorded 2-5× contamination on the four queries
      // alphabetically following the k-means trio, reproducible only in
      // the full-suite run. Cost: ~0.3 s × |queries|, off the clock.
      System.gc()
      Thread.sleep(300)
      val times = Seq.newBuilder[Double]
      var err: Option[String] = None
      var r = 0
      while (r < reps && err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          if (action == "count") df.count()
          else df.write.format("noop").mode("overwrite").save()
          times += (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        r += 1
      }
      (name, times.result(), err)
    }
    val ok = runs.collect { case (n, ts, None) => (n, median(ts), ts.min) }
    val bad = runs.collect { case (n, _, Some(msg)) => (n, msg) }
    val qs = ok.map { case (k, med, _) => s"${jstr(k)}:${fmt(med)}" }.mkString("{", ",", "}")
    val qmins = ok.map { case (k, _, mn) => s"${jstr(k)}:${fmt(mn)}" }.mkString("{", ",", "}")
    val errs = bad.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"action":${jstr(action)},"recycle":$recycle,"queries":$qs,"queries_min":$qmins,"errors":$errs,"n_failed":${bad.size},"sf":${jstr(sfDir)}}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
