package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.etl.EtlMetrics

/** One timed call into the program. `op` is the operation (one daily
  * job, one query, one batch pass) the call belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, var endNs: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work counted by the listeners, summed over the jobs of one span or op. */
final class Counts {
  var jobs, stages, tasks, singleTaskStages, failedTasks = 0L
  var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var recordsRead, bytesRead, scanTaskMs = 0L
  var stageMaxMs, stageMedianMs = 0L
  var analysisMs, optimizationMs, planningMs, exchanges = 0L
  var streamBatches, streamRows = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  val observed = mutable.Map.empty[String, Long]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsRead += o.recordsRead; bytesRead += o.bytesRead; scanTaskMs += o.scanTaskMs
    stageMaxMs += o.stageMaxMs; stageMedianMs += o.stageMedianMs
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; exchanges += o.exchanges
    streamBatches += o.streamBatches; streamRows += o.streamRows; batchMs ++= o.batchMs
    o.observed.foreach { case (k, v) => observed(k) = observed.getOrElse(k, 0L) + v }
  }

  def toJson: Json.Raw = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "single_task_stages" -> singleTaskStages, "failed_tasks" -> failedTasks,
    "task_ms" -> taskMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "records_read" -> recordsRead, "bytes_read" -> bytesRead,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "exchanges" -> exchanges,
    "stream_batches" -> streamBatches, "stream_rows" -> streamRows, "batch_ms" -> batchMs.toSeq,
    "observed" -> Json.obj(observed.toSeq.sortBy(_._1))))
}

/** Spans plus listener counts for the traced run.
  *
  * Spans are kept in memory and written out once the run ends. Every span
  * sets the `perfbench.span` local property, so a job is attributed to
  * the span that was open on the thread that submitted it.
  * Query-execution and observed-metric events carry no such property;
  * [[drain]] runs after every operation and waits until the listener bus
  * has delivered everything queued so far, so those events are
  * attributed to the operation that produced them. A streaming query is
  * attributed to the operation that started it (its start event is
  * delivered on the starting thread), and [[drain]] also waits for the
  * end event of every streaming query the operation started.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var currentOp = -1
  @volatile private var currentSpan = -1
  private var nextOp = 0

  val bySpan = new ConcurrentHashMap[Int, Counts]()
  private val byOp = new ConcurrentHashMap[Int, Counts]()
  private def countsOf(m: ConcurrentHashMap[Int, Counts], k: Int): Counts =
    m.computeIfAbsent(k, _ => new Counts)

  private val jobSpan = new ConcurrentHashMap[Int, (Int, Int)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile private var drainLatch = new CountDownLatch(0)

  private def attribute(jobId: Int)(f: Counts => Unit): Unit = {
    val (op, span) = jobSpan.getOrDefault(jobId, (currentOp, currentSpan))
    countsOf(byOp, op).synchronized(f(countsOf(byOp, op)))
    countsOf(bySpan, span).synchronized(f(countsOf(bySpan, span)))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val drain = p.flatMap(x => Option(x.getProperty("perfbench.drain")))
      if (drain.isDefined) drainJobs.add(e.jobId)
      else {
        val span = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt)
          .getOrElse(currentSpan)
        val op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).map(_.toInt)
          .getOrElse(currentOp)
        jobSpan.put(e.jobId, (op, span))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        attribute(e.jobId)(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.contains(e.jobId)) drainLatch.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      if (job >= 0 && e.taskInfo != null) {
        val m = e.taskMetrics
        attribute(job) { c =>
          c.tasks += 1
          if (!e.taskInfo.successful) c.failedTasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            if (m.inputMetrics.recordsRead > 0) {
              c.recordsRead += m.inputMetrics.recordsRead
              c.bytesRead += m.inputMetrics.bytesRead
              c.scanTaskMs += m.executorRunTime
            }
          }
        }
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized(stageTaskMs.get(e.stageId) += e.taskInfo.duration)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val job = stageJob.getOrDefault(e.stageInfo.stageId, -1)
      if (job >= 0) {
        val ms = Option(stageTaskMs.remove(e.stageInfo.stageId))
          .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        attribute(job) { c =>
          c.stages += 1
          if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
          if (ms.size >= 2) {
            c.stageMaxMs += ms.last
            c.stageMedianMs += ms(ms.size / 2)
          }
        }
      }
    }
  }

  /** Exchanges the planner put in the plan. Under adaptive execution this
    * counts the plan as first prepared, not the final one: which shuffle
    * stages finish first can change what the final plan keeps.
    */
  private def countExchanges(p: SparkPlan): Long = {
    val self = p match { case _: Exchange => 1L; case _ => 0L }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case other => other.children ++ other.subqueries
    }
    self + kids.map(countExchanges).sum
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val ex = scala.util.Try(countExchanges(qe.executedPlan)).getOrElse(0L)
      val c = countsOf(byOp, currentOp)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.exchanges += ex
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val runOp = new ConcurrentHashMap[java.util.UUID, Int]()
  private val runningStreams = ConcurrentHashMap.newKeySet[java.util.UUID]()

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      runOp.put(e.runId, currentOp)
      runningStreams.add(e.runId)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val c = countsOf(byOp, runOp.getOrDefault(e.progress.runId, currentOp))
      c.synchronized {
        c.streamBatches += 1
        c.streamRows += e.progress.numInputRows
        c.batchMs += e.progress.batchDuration
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      runningStreams.remove(e.runId)
  }

  private var etlListener: QueryExecutionListener = _

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    // Per operation, an observed row count is the largest value any of
    // its actions reported: the cached frames report once per reader.
    etlListener = EtlMetrics.onMetrics(spark) { (name, rows) =>
      val c = countsOf(byOp, currentOp)
      c.synchronized(c.observed(name) = math.max(c.observed.getOrElse(name, 0L), rows))
    }
  }

  def detach(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    if (etlListener != null) spark.listenerManager.unregister(etlListener)
  }

  private def setSpanProperty(id: Int): Unit = {
    currentSpan = id
    sc.setLocalProperty("perfbench.span", if (id < 0) null else id.toString)
  }

  /** Time `body` as a span named `layer.call`. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, currentOp, name, System.nanoTime())
    spans += s
    stack.push(s)
    setSpanProperty(s.id)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      setSpanProperty(parent)
    }
  }

  /** Run one operation under a fresh op id; returns the id. */
  def op(name: String)(body: => Unit): Int = {
    val id = nextOp
    nextOp += 1
    currentOp = id
    sc.setLocalProperty("perfbench.op", id.toString)
    try span(name)(body)
    finally {
      sc.setLocalProperty("perfbench.op", null)
      drain()
    }
    id
  }

  /** Block until every listener event queued before this call has been
    * delivered (a marker job's end event is queued behind them) and every
    * streaming query started so far has reported its end.
    */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    drainLatch = latch
    sc.setLocalProperty("perfbench.drain", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.drain", null)
    if (!latch.await(60, TimeUnit.SECONDS)) sys.error("listener bus did not drain in 60 s")
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!runningStreams.isEmpty) {
      if (System.nanoTime() > deadline) sys.error("streaming queries did not report their end in 60 s")
      Thread.sleep(5)
    }
  }

  def opCounts(op: Int): Counts = countsOf(byOp, op)

  def currentOpId: Int = currentOp

  def spansJson: Json.Raw = Json.arr(spans.toSeq.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counts" -> Option(bySpan.get(s.id)).map(_.toJson)))
  })
}

/** Minimal JSON writer (the harness has no JSON dependency of its own). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Some(x) => value(x)
    case None => "null"
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Iterable[_] => arr(xs.toSeq).s
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): Raw =
    Raw(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
