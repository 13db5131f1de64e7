package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measurement tooling (optimization guide §1.1/§7.1 — find where the
  * time goes before changing anything): run ONE query end-to-end under
  * the honest noop action and print every Spark job it scheduled with
  * wall duration, stage/task counts, and the call site that launched
  * it. Iterative operators show up as long runs of small jobs; a
  * single dominant job points at one stage to read in the plan.
  *
  * A streaming replay (StreamSurface) also prints each micro-batch's
  * StreamingQueryProgress `durationMs` as it lands, so per-trigger
  * overhead (queryPlanning, walCommit, commitOffsets) is attributable
  * separately from addBatch (the actual job + sink). r16 reading for
  * stream_unattributed, warm rep: addBatch ~560 ms of the ~800 ms
  * trigger — the job itself dominates; the driver-side per-trigger costs
  * are ~230 ms combined.
  *
  * Usage: Profile <sfDir> <query> [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus, "graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class Job(id: Int, t0: Long, site: String, stages: Int, tasks: Int)
    val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Job, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(j.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
          .getOrElse("?")
        open.put(j.jobId, Job(j.jobId, System.nanoTime(), site,
          j.stageInfos.size, j.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val job = open.remove(j.jobId)
        if (job != null) done.add((job, System.nanoTime() - job.t0))
      }
    })

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"  batch ${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      done.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      import scala.jdk.CollectionConverters._
      val jobs = done.asScala.toSeq.sortBy(_._1.id)
      println(f"== $name rep $rep: $total%.2f s, ${jobs.size} jobs ==")
      jobs.foreach { case (j, dt) =>
        println(f"  job ${j.id}%4d ${dt / 1e9}%7.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%5d  ${j.site}")
      }
      val bySite = jobs.groupBy(_._1.site)
        .map { case (s, js) => (s, js.map(_._2).sum / 1e9, js.size) }
        .toSeq.sortBy(-_._2)
      println("  -- by call site --")
      bySite.foreach { case (s, t, c) => println(f"  $t%7.3f s  x$c%-4d $s") }
    }
    spark.stop()
  }
}
