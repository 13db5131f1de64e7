package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sinks.Sinks
import graft.sources.SalesSource

/** The reference's end-to-end job (`main.py:182-229`), composed from the
  * library pieces: directory CSV scan (S1) → valid/invalid/summary
  * transforms (Q1/Q2/Q3) → date formatting (Q4) → golden CSV export (K1)
  * and optional JDBC load (K2).
  *
  * Lifecycle mirrors SURVEY §3.1 (the lazy-DAG analogue of pandas'
  * materialization): [[run]] caches every frame that is read more than
  * once — `raw` (feeds the valid and invalid branches), `valid` (feeds
  * the summary and its own sinks), `invalid` (read by every sink and by
  * the sampling pass of its sorted write) and `summary` (read by every
  * sink). Each is computed once, so each observed row count is counted
  * once. Output row order reproduces pandas: ingestion order for valid,
  * N→A→D block order then ingestion order for invalid, group-key order
  * for the summary.
  */
object SalesJob {

  /** Every frame here is cached by [[run]]; `raw` is the source frame both
    * branches read — carried so [[unpersist]] can free it too.
    */
  final case class Outputs(valid: DataFrame, invalid: DataFrame,
      summary: DataFrame, raw: DataFrame) {
    /** Free the caches [[run]] created. [[export]] calls this after its
      * final write (the analogue of `engine.dispose()`, `main.py:229`) —
      * a job must not leak storage into a long-lived session that runs
      * many jobs (the same rule library operators follow).
      */
    def unpersist(): Unit =
      Seq(valid, invalid, summary, raw).foreach(_.unpersist())
  }

  private val ingestOrder = Seq(col("_ingest_file"), col("_ingest_id"))
  private val helperCols = Seq("_ingest_file", "_ingest_id", "_block")

  /** EXTRACT + TRANSFORM (`main.py:40,184-186`). Returned frames still
    * carry ingestion-order helper columns; [[export]] consumes and drops
    * them.
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      schema: StructType = SalesSource.salesRawSchema): Outputs = {
    val raw = EtlMetrics.observed(
      SalesSource.readSalesDirectory(spark, inputDir, schema), "sales_raw").cache()
    val valid = EtlMetrics.observed(
      SalesEtl.cleanValidSales(raw, orderCols = ingestOrder,
        extraCols = Seq("_ingest_file", "_ingest_id")), "sales_valid")
      .cache()
    val invalid = EtlMetrics.observed(SalesEtl.detectInvalidSales(raw), "sales_invalid")
      .cache()
    val summary = EtlMetrics.observed(
      SalesEtl.monthlySummary(
        valid.select("Sale_ID", "Product", "Amount", "Date", "Audit_Date")),
      "sales_summary")
      .cache()
    Outputs(valid, invalid, summary, raw)
  }

  /** LOAD + EXPORT (`main.py:192-196,215-224`): format dates, restore the
    * reference's row order, write one golden CSV per frame (and optionally
    * the three JDBC tables). Returns the written CSV paths.
    */
  def export(
      spark: SparkSession,
      outputs: Outputs,
      csvDir: String,
      jdbcUrl: Option[String] = None,
      jdbcOptions: Map[String, String] = Map.empty): Seq[String] = {
    val validOut = SalesEtl.formatDates(outputs.valid)
      .orderBy(ingestOrder: _*)
      .drop(helperCols: _*)
    val invalidOut = SalesEtl.formatDates(outputs.invalid)
      .orderBy(col("_block") +: ingestOrder: _*)
      .drop(helperCols: _*)
    val summaryOut = outputs.summary

    val frames = Seq(
      "Ventas_Validas_M" -> validOut,
      "Ventas_Invalidas_M" -> invalidOut,
      "Ventas_Resumen_Mensual" -> summaryOut)
    jdbcUrl.foreach { url =>
      frames.foreach { case (name, df) =>
        Sinks.writeJdbc(df, url, name, SaveMode.Overwrite, options = jdbcOptions)
      }
    }
    val written = frames.map { case (name, df) =>
      val target = s"$csvDir/$name.csv"
      Sinks.writeCsvGolden(df, target)
      target
    }
    outputs.unpersist() // all sinks written; free run()'s caches
    written
  }
}
