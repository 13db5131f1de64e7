package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sales CSV sources (SURVEY §2.1).
  *
  * S1 — directory CSV scan with a filename-derived `Audit_Date` column
  * (reference: `etl_utils.py:166-206`): every `*.csv` in a directory is
  * read with a fixed schema; `Audit_Date` is parsed from the filename stem
  * (null when the stem is not a date, matching `errors='coerce'` at
  * `etl_utils.py:190`).
  *
  * S2 — single CSV read with optional coercing date parse
  * (reference: `etl_utils.py:71-106`).
  *
  * Scale note: the reference loads files one-by-one on a single thread and
  * concatenates in memory. Here the whole directory is a single distributed
  * scan and the filename-derived column is a per-partition constant (no
  * shuffle). Small files are packed together: with Spark's 4 MB file open
  * cost and 128 MB split size, about 30 small CSVs share one partition,
  * while a file larger than a split is cut into several.
  */
object SalesSource {

  /** Raw schema: everything is a nullable string — `pd.read_csv` infers
    * object dtype for all four columns of the sales feed (SURVEY §1).
    * Explicit so multi-file reads are deterministic (no per-file inference).
    */
  val salesRawSchema: StructType = StructType(Seq(
    StructField("Sale_ID", StringType),
    StructField("Product", StringType),
    StructField("Amount", StringType),
    StructField("Date", StringType)
  ))

  /** Column with this row's source-file stem (name minus `.csv`). */
  private def fileStem: org.apache.spark.sql.Column =
    regexp_extract(input_file_name(), "([^/]+)\\.csv$", 1)

  /** S1: read every `*.csv` directly under `dir`, adding:
    *  - `Audit_Date`: timestamp parsed from the filename stem (null when
    *    the stem is not `yyyy-MM-dd` — `errors='coerce'`),
    *  - `_ingest_file`, `_ingest_id`: ingestion-order key used by
    *    keep-first dedup (M1). pandas keep-first depends on file
    *    enumeration order then row order; we order by (file name, id
    *    within scan). `monotonically_increasing_id` is ordered within a
    *    partition, and a file smaller than one split is read whole by one
    *    partition; for files larger than one split the within-file order
    *    is only per-split — callers needing a total order at scale should
    *    carry an explicit sequence column in the data instead.
    *
    * One driver-side listing of `dir` picks the read:
    *  - no `*.csv` file, or no directory: an empty frame, as the
    *    reference returns for an empty feed (`etl_utils.py:200-202`),
    *    where Spark fails an absent directory with PATH_NOT_FOUND;
    *  - plain files only: `dir` itself is the scan's single root, with a
    *    `*.csv` path filter. Spark lists one root on the driver and
    *    launches no listing job;
    *  - any subdirectory: the top-level `*.csv` files are passed as an
    *    explicit list. A directory root would run partition discovery on
    *    the subdirectories, unlike the reference's flat `os.listdir`
    *    (`etl_utils.py:166-206`): with a `region=eu/` subdirectory, Spark
    *    4.1 reads only the nested files and appends a `region` column.
    *    Past 32 paths (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
    *    Spark stats an explicit list in a Spark job with one task per file.
    *
    * Either way Spark's file index skips `_`- and `.`-prefixed files, which
    * the reference's `os.listdir` would read.
    */
  def readSalesDirectory(
      spark: SparkSession,
      dir: String,
      schema: StructType = salesRawSchema): DataFrame = {
    val entries = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    val csvFiles = entries.filter(f => f.isFile && f.getName.endsWith(".csv"))
    val reader = spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
    val raw =
      if (csvFiles.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (entries.exists(_.isDirectory))
        reader.csv(csvFiles.map(_.getPath).sorted.toIndexedSeq: _*)
      else
        reader.option("pathGlobFilter", "*.csv").csv(dir)
    raw
      .withColumn("Audit_Date", try_to_timestamp(fileStem, lit("yyyy-MM-dd")))
      .withColumn("_ingest_file", input_file_name())
      .withColumn("_ingest_id", monotonically_increasing_id())
  }

  /** S2: single CSV read + optional coercing date parse
    * (`etl_utils.py:71-106`; dead code in the reference but part of its
    * public util surface).
    */
  def readCsv(
      spark: SparkSession,
      path: String,
      convertDate: Boolean = false,
      dateCol: String = "Date"): DataFrame = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    if (convertDate && df.columns.contains(dateCol))
      df.withColumn(dateCol, try_to_timestamp(col(dateCol), lit("yyyy-MM-dd")))
    else df
  }
}
