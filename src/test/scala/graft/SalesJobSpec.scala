package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import graft.etl.SalesJob
import graft.queries.SalesFixture

/** End-to-end job test: real directory CSV scan (S1) → Q1/Q2/Q3 → Q4 →
  * golden CSV export (K1), mirroring `main.py:182-224`. Closes the
  * execution-coverage gap on SalesSource/Sinks.
  */
class SalesJobSpec extends SparkSpec {

  private lazy val inputDir = SalesFixture.ensure("unittest")
  private lazy val outDir = Files.createTempDirectory("graft-job-").toString

  // snapshot of blocks cached by OTHER suites sharing this session
  // (r10: operators return self-contained eager localCheckpoints, so
  // earlier suites legitimately leave their RESULT blocks resident
  // until GC); the leak assertion below must count only SalesJob's own
  private lazy val preExistingCached: Set[Int] = {
    val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    ids
  }

  private lazy val written: Seq[String] = {
    preExistingCached // force the snapshot BEFORE the job runs
    val outputs = SalesJob.run(spark, inputDir, SalesFixture.schema)
    SalesJob.export(spark, outputs, outDir)
  }

  private def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq

  test("export frees every cache run() created (no storage leak)") {
    assert(written.size === 3) // forces the lazy run+export
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- preExistingCached
    assert(leaked.isEmpty,
      s"SalesJob must not leak cached blocks into a long-lived session (new ids: $leaked)")
  }

  test("writes the three golden CSVs with BOM, header, and rows") {
    assert(written.size === 3)
    written.foreach { p =>
      val bytes = Files.readAllBytes(Paths.get(p))
      assert(bytes.take(3).toSeq === Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte),
        s"utf-8-sig BOM missing in $p")
      assert(readLines(p).size > 1, s"no data rows in $p")
    }
  }

  test("valid output: header, unique uppercase Sale_IDs, no notes.csv audit dates") {
    val lines = readLines(written(0))
    assert(lines.head.replace("﻿", "") === "Sale_ID,Product,Amount,Date,Audit_Date")
    val rows = lines.tail.map(_.split(",", -1))
    val sids = rows.map(_(0))
    assert(sids.distinct.size === sids.size)
    assert(sids.forall(s => s == s.toUpperCase))
    // notes.csv rows have null Audit_Date and must be filtered from valid
    assert(rows.forall(_(4).nonEmpty))
  }

  test("invalid output: Reason blocks in N->A->D order, raw Amount preserved") {
    val lines = readLines(written(1))
    // pandas passes ALL input columns through the invalid flow, so the
    // fixture's extra Row_Idx column appears too — resolve by name.
    val header = lines.head.replace("﻿", "").split(",", -1).toSeq
    assert(header ===
      Seq("Sale_ID", "Product", "Amount", "Date", "Row_Idx", "Audit_Date", "Reason"))
    val reasonIdx = header.indexOf("Reason")
    val amountIdx = header.indexOf("Amount")
    val reasons = lines.tail.map(_.split(",", -1)(reasonIdx))
    assert(reasons.toSet.subsetOf(Set("N", "A", "D")))
    assert(Seq("N", "A", "D").forall(reasons.contains), "fixture covers all three reasons")
    val rank = Map("N" -> 0, "A" -> 1, "D" -> 2)
    assert(reasons.map(rank) === reasons.map(rank).sorted)
    // currency-less amounts flagged A keep their raw string form
    val aAmounts = lines.tail.map(_.split(",", -1))
      .filter(_(reasonIdx) == "A").map(_(amountIdx))
    assert(aAmounts.nonEmpty && aAmounts.forall(a => !a.contains("USD") && !a.contains("EUR")))
  }

  test("S1: empty input directory yields an empty frame, not an error") {
    val empty = Files.createTempDirectory("graft-empty-").toString
    val df = graft.sources.SalesSource.readSalesDirectory(spark, empty)
    assert(df.count() === 0)
    assert(df.columns.toSeq ===
      Seq("Sale_ID", "Product", "Amount", "Date", "Audit_Date", "_ingest_file", "_ingest_id"))
  }

  test("S1: nested key=value subdirectory is NOT ingested (flat listdir semantics)") {
    val dir = Files.createTempDirectory("graft-flat-")
    Files.write(dir.resolve("2025-01-01.csv"),
      "Sale_ID,Product,Amount,Date\na1,cat-a,1.00 USD,2025-01-02\n"
        .getBytes(StandardCharsets.UTF_8))
    // a partition-style subdir: dir+glob reads would recurse into it AND
    // append a `region` partition column to the fixed schema
    val sub = dir.resolve("region=eu")
    Files.createDirectories(sub)
    Files.write(sub.resolve("2025-02-01.csv"),
      "Sale_ID,Product,Amount,Date\nZZ,dog-b,9.99 USD,2025-02-02\n"
        .getBytes(StandardCharsets.UTF_8))
    val df = graft.sources.SalesSource.readSalesDirectory(spark, dir.toString)
    assert(df.columns.toSeq ===
      Seq("Sale_ID", "Product", "Amount", "Date", "Audit_Date", "_ingest_file", "_ingest_id"))
    val sids = df.select("Sale_ID").collect().map(_.getString(0)).toSeq
    assert(sids === Seq("a1"), "nested CSV must not be ingested")
  }

  private def writeSales(dir: java.nio.file.Path, name: String, sid: String): Unit =
    Files.write(dir.resolve(name),
      s"Sale_ID,Product,Amount,Date\n$sid,cat-a,1.00 USD,2025-01-02\n"
        .getBytes(StandardCharsets.UTF_8))

  /** Rows of `df` as sorted strings, over the four raw columns. */
  private def rawRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("Sale_ID", "Product", "Amount", "Date").collect().map(_.mkString(",")).toSeq.sorted

  /** The explicit-file read of every top-level `*.csv` in `dir`. */
  private def explicitRead(dir: java.nio.file.Path): org.apache.spark.sql.DataFrame = {
    val files = dir.toFile.listFiles().filter(f => f.isFile && f.getName.endsWith(".csv"))
      .map(_.getPath).sorted
    spark.read.schema(graft.sources.SalesSource.salesRawSchema)
      .option("header", "true").csv(files.toIndexedSeq: _*)
  }

  test("S1: a flat directory above the parallel-listing threshold launches no Spark job") {
    val dir = Files.createTempDirectory("graft-flat40-")
    (1 to 40).foreach(i =>
      writeSales(dir, s"${java.time.LocalDate.of(2025, 1, 1).plusDays(i)}.csv", s"f$i"))
    val sc = spark.sparkContext
    val group = s"s1-listing-${System.nanoTime}"
    sc.setJobGroup(group, "S1 directory listing")
    val df = try graft.sources.SalesSource.readSalesDirectory(spark, dir.toString)
      finally sc.clearJobGroup()
    // the status store is fed by the listener bus: once a later marker
    // job shows up, any job the read launched would have shown up too
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "listener-bus marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      sc.statusTracker.getJobIdsForGroup(marker).isEmpty) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "listing a flat feed directory must not launch a Spark job")
    val rows = rawRows(df)
    assert(rows.size === 40)
    assert(rows === rawRows(explicitRead(dir)))
  }

  test("S1: non-CSV, `_`- and `.`-prefixed entries are skipped as by the explicit-file read") {
    val dir = Files.createTempDirectory("graft-mixed-")
    writeSales(dir, "2025-01-01.csv", "a1")
    writeSales(dir, "notes.txt", "t1")
    writeSales(dir, "_x.csv", "u1")
    writeSales(dir, ".x.csv", "d1")
    val df = graft.sources.SalesSource.readSalesDirectory(spark, dir.toString)
    assert(df.select("Sale_ID").collect().map(_.getString(0)).toSeq === Seq("a1"))
    assert(rawRows(df) === rawRows(explicitRead(dir)))
  }

  test("S1: binary-garbage .csv degrades to coerced-null rows, never a failed job") {
    // The reference skips an entirely unreadable file per-file
    // (etl_utils.py:193-194: log + continue). Spark's PERMISSIVE CSV read
    // cannot throw on malformed TEXT — garbage decodes to rows whose
    // fields fail every downstream coercion, so they exit via the Q2
    // invalid flow instead of vanishing. Documented divergence: the rows
    // EXIST (Reason=N material) rather than being silently dropped with
    // the file. What must hold: the scan completes and the good file's
    // rows are intact.
    val dir = Files.createTempDirectory("graft-garbage-")
    Files.write(dir.resolve("2025-03-01.csv"),
      "Sale_ID,Product,Amount,Date\ng1,cat-a,1.00 USD,2025-03-02\n"
        .getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("2025-03-02.csv"),
      Array.tabulate[Byte](256)(i => (i * 131 % 251).toByte)) // binary junk
    val df = graft.sources.SalesSource.readSalesDirectory(spark, dir.toString)
    val good = df.filter(org.apache.spark.sql.functions.col("Sale_ID") === "g1").count()
    assert(good === 1L, "good file's rows must survive a garbage sibling")
  }

  test("corrupt gzip member fails the job loudly by default; spark.sql.files.ignoreCorruptFiles completes it") {
    // The real corrupt-FILE case (truncated .csv.gz in a crawl dump —
    // the K7 interchange format): the codec throws below the parser, so
    // PERMISSIVE can't save it. Reference parity (skip the file, keep
    // the rest) is spark.sql.files.ignoreCorruptFiles — exercised here,
    // not just mapped in SURVEY S1.
    val dir = Files.createTempDirectory("graft-gz-")
    def gz(path: java.nio.file.Path, content: String, truncate: Boolean): Unit = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(content.getBytes(StandardCharsets.UTF_8)); g.close()
      val bytes = bos.toByteArray
      Files.write(path, if (truncate) bytes.take(bytes.length / 2) else bytes)
    }
    val rows = (1 to 50).map(i => s"s$i,cat-a,1.00 USD,2025-03-0${i % 9 + 1}").mkString("\n")
    gz(dir.resolve("good.csv.gz"), s"Sale_ID,Product,Amount,Date\n$rows\n", truncate = false)
    gz(dir.resolve("bad.csv.gz"), s"Sale_ID,Product,Amount,Date\n$rows\n", truncate = true)
    def read() = spark.read
      .schema(graft.sources.SalesSource.salesRawSchema)
      .option("header", "true")
      .csv(dir.toString + "/*.csv.gz")
    intercept[Exception] { read().count() } // truncated stream -> loud failure
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val n = read().filter(org.apache.spark.sql.functions.col("Sale_ID").startsWith("s")).count()
      assert(n >= 50L, s"good member's rows must all survive, got $n")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("S2: single CSV read with coercing date conversion") {
    val f = Files.createTempDirectory("graft-s2-").resolve("one.csv")
    Files.write(f, "Sale_ID,Date\na1,2024-09-22\na2,not-a-date\n".getBytes(StandardCharsets.UTF_8))
    val df = graft.sources.SalesSource.readCsv(spark, f.toString, convertDate = true)
    val dates = df.orderBy("Sale_ID").select("Date")
      .collect().map(r => Option(r.get(0)).map(_.toString))
    assert(dates(0).exists(_.startsWith("2024-09-22")))
    assert(dates(1).isEmpty, "unparseable date coerces to null")
  }

  test("summary output: lexicographic (Mes, Producto) order") {
    val rows = readLines(written(2)).tail.map(_.split(",", -1))
    val keys = rows.map(r => (r(0), r(1)))
    assert(keys === keys.sorted)
    assert(rows.nonEmpty)
  }
}
