package graftbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Wall clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution from the monotonic clock.
  */
object Clock {
  private val baseMs   = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** A traced interval in the benchmark's own code. `op` is the operation it
  * belongs to; `parent` indexes the enclosing span, -1 for an operation.
  */
final case class Span(name: String, startMs: Double, endMs: Double, parent: Int, op: Int) {
  def durationS: Double = (endMs - startMs) / 1000
}

/** Records spans around the benchmark's calls into public graft functions.
  * Disabled, it only runs the body.
  */
final class Spans(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val idx    = spans.size
      val parent = open
      spans += Span(name, Clock.nowMs, Double.NaN, parent, op)
      open = idx
      try body
      finally {
        spans(idx) = spans(idx).copy(endMs = Clock.nowMs)
        open = parent
      }
    }

  def of(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  def named(op: Int, name: String): Seq[Span] = of(op).filter(_.name == name)
}

/** Per-job record kept by [[JobMeter]]. Task sums cover every stage the job ran. */
final class JobRecord(val id: Int, val startMs: Double, val module: String, val opProp: Option[Int]) {
  var endMs: Double          = Double.NaN
  var tasks                  = 0L
  var failedTasks            = 0L
  var cpuNs                  = 0L
  var runMs                  = 0L
  var shuffleWriteBytes      = 0L
  var outputBytes            = 0L
  var outputRows             = 0L
  var inputRows              = 0L
  def wallS: Double          = (endMs - startMs) / 1000
}

/** Attributes every Spark job to the graft module of the innermost `graft.*`
  * frame in its long-form call site (`StageInfo.details`), falling back to
  * the call site of the SQL execution it belongs to, else `unattributed`.
  * Task metrics roll up into the job that ran the stage.
  */
final class JobMeter extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob    = mutable.Map.empty[Int, Int]
  private val execModule  = mutable.Map.empty[Long, String]
  private val markerJobs  = mutable.Set.empty[Int]
  @volatile private var markers = 0

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized(execModule(e.executionId) = Modules.moduleOf(e.details))
    case _                                 =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty("spark.job.description") == JobMeter.Marker)) markerJobs += e.jobId
    else {
      val module = Modules.moduleOf(e.stageInfos.headOption.map(_.details).orNull) match {
        case Modules.Unattributed =>
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => execModule.get(id.toLong)).getOrElse(Modules.Unattributed)
        case m => m
      }
      val op = props.flatMap(p => Option(p.getProperty(JobMeter.OpProperty))).flatMap(_.toIntOption)
      jobs(e.jobId) = new JobRecord(e.jobId, e.time.toDouble, module, op)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) markers += 1
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRows += m.outputMetrics.recordsWritten
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs of an operation: by the op property when the job carries one,
    * else by start time inside the operation's window.
    */
  def jobsOf(op: Int, fromMs: Double, toMs: Double): Seq[JobRecord] = synchronized {
    jobs.values.filter { j =>
      j.opProp match {
        case Some(o) => o == op
        case None    => j.startMs >= fromMs && j.startMs <= toMs
      }
    }.toSeq
  }

  /** Blocks until every event posted before this call has been delivered:
    * a marker job's end event queues behind them.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val before = markers
    val sc     = spark.sparkContext
    sc.setLocalProperty(JobMeter.OpProperty, null)
    sc.setJobDescription(JobMeter.Marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (markers == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

}

object JobMeter {
  val OpProperty = "graftbench.op"
  val Marker     = "graftbench-drain"
}

/** Keeps each micro-batch's `durationMs` breakdown, keyed by batch id. */
final class StreamMeter extends StreamingQueryListener {
  val durations = mutable.Map.empty[Long, Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    durations(e.progress.batchId) = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
