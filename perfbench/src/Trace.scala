package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: name, start, end (epoch ms) and the span that caused it. */
final case class Span(id: String, parent: String, name: String, startMs: Long, endMs: Long)

/** One Spark job, attributed to the benchmark operation that caused it:
  * `op` is the job group the benchmark sets around a query, or
  * `batch-<id>` from the streaming batch-id property.
  */
final class JobRec(val id: Int, val op: String, val execId: Long, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0
  var taskMs, gcMs, shuffleWriteB, spillB = 0L
}

/** Work of one operation, summed over the jobs attributed to it. */
final case class OpWork(jobs: Int, stages: Int, tasks: Int, taskMs: Long, gcMs: Long,
                        shuffleWriteB: Long, spillB: Long, outsideMs: Double,
                        planningMs: Double)

/** The traced run's instrumentation, all of it registered from the
  * benchmark: a SparkListener (jobs, stages, tasks, and the Catalyst phase
  * times of each SQL execution) and a StreamingQueryListener (micro-batch
  * progress). Everything stays in memory until the run ends.
  *
  * Phase times are read from the QueryExecution on the SQL-execution-end
  * event rather than from a QueryExecutionListener: the listener's
  * callback does not say which execution it reports, so its times could
  * not be tied to the jobs, and through them to a query or micro-batch.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpans = new ConcurrentLinkedQueue[Span]()
  private val planningMs = new ConcurrentHashMap[Long, java.lang.Double]()
  val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span(id: String, parent: String, name: String, startMs: Long, endMs: Long): Unit =
    spans.add(Span(id, parent, name, startMs, endMs))

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val op = prop("streaming.sql.batchId").map("batch-" + _)
        .orElse(prop("spark.jobGroup.id")).getOrElse("unattributed")
      val rec = new JobRec(e.jobId, op,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        j.stages += 1
        stageSpans.add(Span(s"stage-${i.stageId}.${i.attemptNumber()}", s"job-${j.id}",
          i.name, i.submissionTime.getOrElse(j.startMs), i.completionTime.getOrElse(j.endMs)))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val ph = qe.tracker.phases
          planningMs.put(end.executionId, Seq("analysis", "optimization", "planning")
            .flatMap(ph.get).map(_.durationMs).sum.toDouble)
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(e.progress.batchId, e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  /** Jobs, stages, tasks and time of operation `op`, which ran on the
    * wall-clock interval [startMs, endMs]; `outsideMs` is the part of that
    * interval no job of the operation covers.
    */
  def work(op: String, startMs: Long, endMs: Long): OpWork = {
    val js = jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.startMs)
    var covered = 0L; var reach = startMs
    js.foreach { j =>
      val s = math.max(j.startMs, reach); val e = math.min(j.endMs, endMs)
      if (e > s) { covered += e - s; reach = e }
    }
    val plan = js.map(_.execId).distinct.flatMap(x => Option(planningMs.get(x))).map(_.doubleValue).sum
    OpWork(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.taskMs).sum,
      js.map(_.gcMs).sum, js.map(_.shuffleWriteB).sum, js.map(_.spillB).sum,
      (endMs - startMs - covered).toDouble, plan)
  }

  /** Benchmark spans, then each attributed job under its operation's span,
    * then each stage under its job.
    */
  def allSpans: Seq[Span] = {
    val ids = spans.asScala.map(_.id).toSet
    spans.asScala.toSeq ++
      jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Span(s"job-${j.id}", if (ids(j.op)) j.op else "workload", "job", j.startMs, j.endMs)) ++
      stageSpans.asScala.toSeq
  }
}
