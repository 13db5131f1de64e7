package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sinks (SURVEY §2.2).
  *
  * K1 — golden-compatible CSV export (reference `etl_utils.py:108-129`):
  * single file, header row, UTF-8 with BOM (`utf-8-sig`), nulls as empty
  * strings. The reference's `to_csv` is a single-machine write; here we
  * `coalesce(1)` ONLY because the contract is "one file" — for 100 TB
  * outputs use `writeCsvPartitioned` (no coalesce, same options), which
  * writes one file per partition in parallel.
  *
  * K2 — JDBC load (reference `etl_utils.py:134-160`): `if_exists='replace'`
  * = `SaveMode.Overwrite`, `'append'` = `SaveMode.Append`. Batched inserts
  * from every partition in parallel (vs the reference's single pyodbc
  * connection); `numPartitions` caps concurrent connections so a
  * 1000-executor cluster doesn't open 1000 sessions against the database.
  */
object Sinks {

  private val Bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  private def csvWriter(df: DataFrame) =
    df.write
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      // pandas to_csv writes fields verbatim; Spark's writer defaults to
      // TRIMMING leading/trailing whitespace on write, which would
      // silently corrupt values like the reference's " Y" product
      // (split-last of "CAT - Y" keeps its leading space, main.py:67).
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")

  /** K1: single CSV file at `target` with UTF-8 BOM, matching
    * `to_csv(index=False, encoding='utf-8-sig')`. The part file is streamed
    * behind the BOM into a hidden sibling of `target`, which is then moved
    * over `target`: a failed export leaves no truncated file.
    */
  def writeCsvGolden(df: DataFrame, target: String): Unit = {
    val tmpDir = Files.createTempDirectory("graft-csv-")
    try {
      val tmp = tmpDir.resolve("out")
      csvWriter(df.coalesce(1)).mode(SaveMode.Overwrite).csv(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.toArray.map(_.asInstanceOf[Path])
          .find(_.getFileName.toString.startsWith("part-"))
          .getOrElse(sys.error(s"no part file written under $tmp"))
        finally listing.close()
      val out = Paths.get(target).toAbsolutePath
      Files.createDirectories(out.getParent)
      // not Files.createTempFile: its owner-only mode would reach `target`
      val staged = out.resolveSibling(s".${out.getFileName}.tmp")
      try {
        val os = Files.newOutputStream(staged)
        try { os.write(Bom); Files.copy(part, os) } finally os.close()
        Files.move(staged, out,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(staged)
    } finally {
      val walk = Files.walk(tmpDir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** K1 at scale: same CSV options, one file per partition, no driver
    * bottleneck. (BOM-per-part is intentionally omitted — BOM is an
    * Excel-ism for the single-file export.)
    */
  def writeCsvPartitioned(df: DataFrame, dir: String): Unit =
    csvWriter(df).mode(SaveMode.Overwrite).csv(dir)

  /** K2: JDBC write. `mode=Overwrite` drops+recreates (pandas 'replace');
    * `Append` inserts (pandas 'append'). For SQL Server pass
    * `url = "jdbc:sqlserver://host;databaseName=db;integratedSecurity=true"`.
    */
  def writeJdbc(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Overwrite,
      numPartitions: Int = 8,
      batchSize: Int = 10000,
      options: Map[String, String] = Map.empty): Unit = {
    val writer = df.coalesce(numPartitions).write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(options)
      .mode(mode)
    writer.save()
  }
}
