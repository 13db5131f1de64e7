package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Row-count observability — the reference's whole ops story is INFO logs
  * of `len(df)` at each stage (`etl_utils.py:10-31`, `main.py:99,146,174`).
  * `len` is free in pandas; a distributed `df.count()` is an extra job
  * per log line. `Dataset.observe` is the scale-correct analogue: named
  * count metrics ride along with whatever action already runs and are
  * delivered to a listener — zero additional passes over the data.
  *
  * A count covers every pass over the observed frame within one action.
  * A range-partitioned sort (`orderBy`) over an uncached observed frame
  * runs a sampling job over it first, so its rows are counted once more.
  * Observe frames that are cached or not sorted downstream.
  */
object EtlMetrics {

  /** Attach a named row-count observation (no action is forced). */
  def observed(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("rows"))

  /** Register a listener invoking `onMetric(name, rows)` for every
    * observed metric of every completed action (async, via the listener
    * bus). Returns the listener so callers can unregister.
    */
  def onMetrics(spark: SparkSession)(onMetric: (String, Long) => Unit): QueryExecutionListener = {
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          onMetric(name, row.getAs[Long]("rows"))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    listener
  }

  /** Log every observed metric at INFO, mirroring the reference's
    * `configurar_logging` + count lines.
    */
  def logMetrics(spark: SparkSession): QueryExecutionListener = {
    val log = org.apache.logging.log4j.LogManager.getLogger("graft.etl")
    onMetrics(spark)((name, rows) => log.info(s"$name: $rows rows"))
  }
}
