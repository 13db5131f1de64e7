package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{GraftSession, SparkEntry}
import graft.etl.{SalesEtl, SalesJob}
import graft.queries.SalesFixture
import graft.sinks.Sinks
import graft.sources.SalesSource

/** JVM side of the benchmark: builds the session, runs one workload in a
  * closed loop with one client, and writes every timing, count and span
  * to a JSON file. `perfbench/run.py` generates the inputs, launches this
  * main, checks the outputs and prints the metrics.
  *
  * Arguments are `key=value` pairs: mode (`run`, or `setup` to build the
  * session, run the warm-up query and stop), launched (the epoch second
  * at which the JVM was launched), workload, input, work, seconds,
  * trace (0|1), cores, warmup_passes, warmup_max_s, min_passes (measured
  * passes, at least), result, trace_out and, for llm_curation, queries
  * (comma-separated `SparkEntry.queries` names).
  */
object Harness {

  final case class OpRec(name: String, seconds: Double, error: Option[String], id: Int)
  final case class PassRec(seconds: Double, ops: Seq[OpRec])

  /** One operation of a pass. `feed` is the sales input it reads. */
  final case class Op(name: String, feed: Option[String],
      plain: () => Unit, traced: Tracer => Unit)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** `StreamSurface` stages its stream replays, sink outputs and
    * checkpoints under a fixed scratch root outside the working directory
    * (a static final field); point it at `dir` so that a run writes only
    * under its own work directory. Must run before the first stream query
    * reads the field.
    */
  private def redirectStreamScratch(dir: String): Unit = {
    val cls = Class.forName("graft.queries.StreamSurface$")
    cls.getField("MODULE$").get(null) // runs the object's initializer first
    val field = cls.getDeclaredField("scratchRoot")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), dir)
    field.setAccessible(true)
    require(field.get(null) == dir, s"StreamSurface scratch root is still ${field.get(null)}")
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val Array(k, v) = a.split("=", 2)
      k -> v
    }.toMap
    val work = conf("work")
    val cores = conf("cores").toInt
    // Embedded Derby (the JDBC target) writes its log and database
    // directory under the run's own work directory.
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    System.setProperty("derby.system.home", s"$work/derby")

    // ---- set-up: session build + warm-up query, timed from JVM launch
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores, "perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buildS = seconds(t0)
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    val warmupS = seconds(t1)
    val readyS = System.currentTimeMillis() / 1e3 - conf("launched").toDouble
    val setupJson = Seq("ready_s" -> readyS, "build_s" -> buildS, "warmup_s" -> warmupS)
    if (conf("mode") == "setup") {
      Files.write(Paths.get(conf("result")), Json.obj(setupJson).s.getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }
    val workload = conf("workload")
    val input = conf("input")
    val window = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val warmupMax = conf("warmup_max_s").toDouble
    val warmupPasses = conf("warmup_passes").toInt
    val minPasses = conf("min_passes").toInt

    // The stream replays write under the run's own work directory.
    redirectStreamScratch(s"$work/stream")

    // ---- the workload's operations, untraced and traced
    val schema = SalesFixture.schema
    val outRoot = s"$work/out"
    val jdbcUrl = "jdbc:derby:memory:perfbench;create=true"
    val helperCols = Seq("_ingest_file", "_ingest_id", "_block")
    val ingestOrder = Seq(col("_ingest_file"), col("_ingest_id"))

    def salesJob(in: String): Unit = {
      val outs = SalesJob.run(spark, in, schema)
      SalesJob.export(spark, outs, outRoot, Some(jdbcUrl))
    }

    // Per traced operation: bytes the run() caches hold, bytes of CSV
    // written, rows that reached the JDBC tables.
    val cacheBytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val csvBytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val jdbcRows = mutable.Map.empty[Int, Long].withDefaultValue(0L)

    /** SalesJob.run + export with a span around every call into the
      * sources, etl and sinks layers. It makes the calls SalesJob.export
      * makes, in the same order, so each sink write is timed on its own;
      * readSalesDirectory is called once more on its own, because run()
      * calls it internally.
      */
    def salesJobTraced(tr: Tracer, in: String): Unit = {
      tr.span("sources.readSalesDirectory")(SalesSource.readSalesDirectory(spark, in, schema))
      val outs = tr.span("etl.SalesJob.run")(SalesJob.run(spark, in, schema))
      tr.span("sinks.export") {
        val validOut = tr.span("etl.SalesEtl.formatDates")(SalesEtl.formatDates(outs.valid))
          .orderBy(ingestOrder: _*).drop(helperCols: _*)
        val invalidOut = tr.span("etl.SalesEtl.formatDates")(SalesEtl.formatDates(outs.invalid))
          .orderBy(col("_block") +: ingestOrder: _*).drop(helperCols: _*)
        val frames = Seq(
          "Ventas_Validas_M" -> validOut,
          "Ventas_Invalidas_M" -> invalidOut,
          "Ventas_Resumen_Mensual" -> outs.summary)
        frames.foreach { case (name, df) =>
          tr.span("sinks.Sinks.writeJdbc")(Sinks.writeJdbc(df, jdbcUrl, name, SaveMode.Overwrite))
        }
        frames.foreach { case (name, df) =>
          tr.span("sinks.Sinks.writeCsvGolden")(Sinks.writeCsvGolden(df, s"$outRoot/$name.csv"))
          if (name == "Ventas_Validas_M") cacheBytes(tr.currentOpId) =
            spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        }
        outs.unpersist()
      }
    }

    def csvSize(dir: String): Long =
      Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".csv"))
        .map(_.length).sum

    def jdbcCounts(): Map[String, Long] = {
      val conn = java.sql.DriverManager.getConnection(jdbcUrl)
      try Seq("Ventas_Validas_M", "Ventas_Invalidas_M", "Ventas_Resumen_Mensual").map { t =>
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        t -> rs.getLong(1)
      }.toMap
      finally conn.close()
    }

    val queryNames = conf.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    lazy val queryFns = SparkEntry.queries

    /** The operations of one pass. */
    val ops: Seq[Op] = workload match {
      case "sales_batch" =>
        Seq(Op("sales_job", Some(input), () => salesJob(input), tr => {
          salesJobTraced(tr, input)
          csvBytes(tr.currentOpId) = csvSize(outRoot)
        }))
      case "llm_curation" =>
        queryNames.map { q =>
          Op(q, None,
            () => queryFns(q)(spark, input).write.format("noop").mode("overwrite").save(),
            tr => {
              val df = tr.span("queries.build")(queryFns(q)(spark, input))
              tr.span("queries.action")(df.write.format("noop").mode("overwrite").save())
            })
        }
      case other => sys.error(s"unknown workload $other")
    }

    def runPass(tr: Option[Tracer]): PassRec = {
      // A full collection before every pass, off the clock: no pass pays
      // for the garbage of the ones before it, and the old generation's
      // resident high-water mark is what one pass keeps live, not what
      // the number of passes in the window happened to promote.
      System.gc()
      val t0 = System.nanoTime()
      val recs = ops.map { op =>
        val s0 = System.nanoTime()
        var id = -1
        val err =
          try {
            tr match {
              case None => op.plain()
              case Some(t) =>
                id = t.op(s"op.${op.name}")(op.traced(t))
                // Off the operation's clock: the K2 tables as this job left them.
                if (op.feed.isDefined) jdbcRows(id) = jdbcCounts().values.sum
            }
            None
          } catch { case e: Throwable => Some(errorText(e)) }
        val dt = tr.flatMap(t => t.spans.find(s => s.op == id && s.parent == -1))
          .map(_.seconds).getOrElse(seconds(s0))
        OpRec(op.name, dt, err, id)
      }
      PassRec(seconds(t0), recs)
    }

    // ---- first pass, warm-up until two consecutive passes agree, window
    val first = runPass(None)
    val warmup = mutable.ArrayBuffer.empty[PassRec]
    val w0 = System.nanoTime()
    var settled = false
    while (!settled && warmup.size < warmupPasses && seconds(w0) < warmupMax) {
      val p = runPass(None)
      val prev = (first +: warmup).last.seconds
      warmup += p
      settled = math.abs(p.seconds - prev) <= 0.1 * prev
    }
    val untracedWindow = if (traced) window / 2 else window
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val m0 = System.nanoTime()
    while (passes.size < minPasses || seconds(m0) < untracedWindow) passes += runPass(None)
    val tracedPasses = mutable.ArrayBuffer.empty[PassRec]
    var tracer: Tracer = null
    if (traced) {
      tracer = new Tracer(spark)
      tracer.attach()
      val t0 = System.nanoTime()
      while (tracedPasses.isEmpty || seconds(t0) < window / 2) tracedPasses += runPass(Some(tracer))
      tracer.detach()
    }

    // ---- output checks, off the clock
    val checks: Seq[(String, Any)] = workload match {
      case "sales_batch" => Seq("jdbc" -> jdbcCounts())
      case "llm_curation" =>
        val errs = queryNames.flatMap { q =>
          try {
            queryFns(q)(spark, input).write.mode("overwrite").parquet(s"$work/check/$q")
            None
          } catch { case e: Throwable => Some(q -> errorText(e)) }
        }
        Seq("oracle_sql" -> queryNames.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
          "errors" -> errs.toMap)
      case _ => Nil
    }
    val rss = peakRssMb()

    // ---- per-layer numbers from the traced passes
    val layers: Seq[(String, Any)] =
      if (!traced) Nil
      else {
        val perPass = tracedPasses.map { p =>
          val ids = p.ops.map(_.id).toSet
          val c = new Counts
          ids.foreach(i => c.add(tracer.opCounts(i)))
          val spans = tracer.spans.filter(s => ids.contains(s.op))
          def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
          val buildJobs = spans.filter(_.name == "queries.build")
            .map(s => Option(tracer.bySpan.get(s.id)).map(_.jobs).getOrElse(0L)).sum
          val feedCsvs = ops.flatMap(_.feed).flatMap(d => new File(d).listFiles())
            .filter(_.getName.endsWith(".csv"))
          val (feedFiles, feedBytes) = (feedCsvs.size, feedCsvs.map(_.length).sum)
          val written = ids.toSeq.map(csvBytes).sum
          // Self time: a span's duration minus the part its child spans cover.
          val selfByLayer = spans.groupBy(_.layer).map { case (layer, ss) =>
            layer -> ss.map { s =>
              s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
            }.sum
          }
          Map[String, Double](
            "sources.call_s" -> spanS("sources.readSalesDirectory"),
            "sources.files" -> feedFiles.toDouble,
            "sources.records_read" -> c.recordsRead.toDouble,
            "sources.bytes_read" -> c.bytesRead.toDouble,
            "sources.scan_task_s" -> c.scanTaskMs / 1e3,
            "etl.run_call_s" -> spanS("etl.SalesJob.run"),
            "etl.valid_rows" -> c.observed.getOrElse("sales_valid", 0L).toDouble,
            "etl.invalid_rows" -> c.observed.getOrElse("sales_invalid", 0L).toDouble,
            "etl.summary_rows" -> c.observed.getOrElse("sales_summary", 0L).toDouble,
            "etl.cache_bytes" -> ids.toSeq.map(cacheBytes).sum.toDouble,
            "etl.shuffle_write_bytes" ->
              (if (workload == "sales_batch") c.shuffleWrite.toDouble else 0.0),
            "sinks.export_s" -> spanS("sinks.export"),
            "sinks.csv_s" -> spanS("sinks.Sinks.writeCsvGolden"),
            "sinks.csv_bytes" -> written.toDouble,
            "sinks.bytes_per_input_byte" ->
              (if (feedBytes > 0) written.toDouble / feedBytes else 0.0),
            "sinks.jdbc_s" -> spanS("sinks.Sinks.writeJdbc"),
            "sinks.jdbc_rows" -> ids.toSeq.map(jdbcRows).sum.toDouble,
            "queries.build_s" -> spanS("queries.build"),
            "queries.build_jobs" -> buildJobs.toDouble,
            "queries.action_s" -> spanS("queries.action"),
            "plan.analysis_ms" -> c.analysisMs.toDouble,
            "plan.optimization_ms" -> c.optimizationMs.toDouble,
            "plan.planning_ms" -> c.planningMs.toDouble,
            "plan.exchanges" -> c.exchanges.toDouble,
            "exec.jobs" -> c.jobs.toDouble,
            "exec.stages" -> c.stages.toDouble,
            "exec.tasks" -> c.tasks.toDouble,
            "exec.single_task_stages" -> c.singleTaskStages.toDouble,
            "exec.task_s" -> c.taskMs / 1e3,
            "exec.task_cpu_s" -> c.cpuNs / 1e9,
            "exec.gc_s" -> c.gcMs / 1e3,
            "exec.overhead_s" -> (p.seconds - c.taskMs / 1e3 / cores),
            "exec.shuffle_read_bytes" -> c.shuffleRead.toDouble,
            "exec.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
            "exec.spill_bytes" -> c.spill.toDouble,
            "exec.task_skew" ->
              (if (c.stageMedianMs > 0) c.stageMaxMs.toDouble / c.stageMedianMs else 1.0),
            "exec.failed_tasks" -> c.failedTasks.toDouble,
            "streaming.batches" -> c.streamBatches.toDouble,
            "streaming.batch_p50_ms" ->
              (if (c.batchMs.isEmpty) 0.0 else median(c.batchMs.map(_.toDouble).toSeq)),
            "streaming.rows" -> c.streamRows.toDouble
          ) ++ selfByLayer.map { case (l, v) => s"self.$l" -> v }
        }
        val keys = perPass.flatMap(_.keys).distinct.sorted
        val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val overhead = median(tracedPasses.map(_.seconds).toSeq) - median(passes.map(_.seconds).toSeq)
        (med + ("trace.overhead_s" -> overhead)).toSeq.sortBy(_._1)
      }

    if (traced) {
      val ops = tracedPasses.flatMap(_.ops).map(o => o.id -> tracer.opCounts(o.id).toJson)
      Files.write(Paths.get(conf("trace_out")), Json.obj(Seq(
        "workload" -> workload,
        "spans" -> tracer.spansJson,
        "ops" -> Json.obj(ops.map { case (i, c) => i.toString -> c }.toSeq),
        "layers" -> Json.obj(layers))).s.getBytes(StandardCharsets.UTF_8))
    }

    def passJson(p: PassRec) = Json.obj(Seq("seconds" -> p.seconds, "ops" -> p.ops.map(o =>
      Json.obj(Seq("name" -> o.name, "seconds" -> o.seconds, "error" -> o.error)))))
    val os = ManagementFactory.getOperatingSystemMXBean
    val result = Json.obj(Seq(
      "workload" -> workload,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "load1_end" -> os.getSystemLoadAverage,
      "setup" -> Json.obj(setupJson),
      "first_pass" -> passJson(first),
      "warmup" -> warmup.map(passJson),
      "warmup_settled" -> settled,
      "passes" -> passes.map(passJson),
      "traced_passes" -> tracedPasses.map(passJson),
      "peak_rss_mb" -> rss,
      "layers" -> Json.obj(layers),
      "checks" -> Json.obj(checks)))
    Files.write(Paths.get(conf("result")), result.s.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
