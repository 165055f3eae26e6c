package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-JOB wall/task-time profile of one gate query — answers "where does a
  * composed lifecycle gate actually spend its seconds": executor compute
  * (task time), shuffle, or DRIVER-side gaps between jobs (planning, FS
  * metadata walks, commit protocol). Usage:
  *   runMain graft.tools.ProfileQuery <sfDir> <query> [topN]
  */
object ProfileQuery {
  private case class JobRow(
      id: Int, desc: String, startMs: Long, var endMs: Long,
      var tasks: Int = 0, var taskTimeMs: Long = 0,
      var shufReadB: Long = 0, var shufWriteB: Long = 0,
      var inputB: Long = 0, var outputB: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name  = args(1)
    val topN  = if (args.length > 2) args(2).toInt else 25
    val spark = graft.Harness.session()

    val fn = graft.SparkEntry.queries(name)
    // Warmup run (codegen, classloading) — NOT profiled.
    fn(spark, sfDir).count()
    graft.GateCache.releasePrivateCopies()

    val jobs  = mutable.LinkedHashMap[Int, JobRow]()
    val stages = mutable.ArrayBuffer[(Int, Long, String, String)]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs(e.jobId) = JobRow(e.jobId, d.take(90), e.time, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.taskTimeMs += m.executorRunTime
            j.shufReadB  += m.shuffleReadMetrics.totalBytesRead
            j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            j.inputB     += m.inputMetrics.bytesRead
            j.outputB    += m.outputMetrics.bytesWritten
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        stages += ((si.stageId, wall, si.name,
          si.details.linesIterator.filter(l => l.contains("graft")).take(3).mkString(" <- ")))
      }
    }
    val sqDur = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    var sqBatches = 0
    val sqListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = sqDur.synchronized {
        sqBatches += 1
        e.progress.durationMs.forEach((k, v) => sqDur(k) += v.longValue())
      }
    }
    spark.streams.addListener(sqListener)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n  = fn(spark, sfDir).count()
    val wallS = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000) // let the async listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    graft.GateCache.releasePrivateCopies()

    val rows = jobs.synchronized(jobs.values.toVector.sortBy(_.startMs))
    val jobWallMs = rows.map(r => r.endMs - r.startMs).sum
    // Driver gaps: time between one job's end and the next job's start.
    val gaps = rows.sliding(2).collect {
      case Vector(a, b) if b.startMs > a.endMs => (a, b.startMs - a.endMs)
    }.toVector
    val gapMs = gaps.map(_._2).sum
    println(f"[$name] wall=$wallS%.2f s rows=$n jobs=${rows.size} jobWall=${jobWallMs / 1000.0}%.2f s driverGaps=${gapMs / 1000.0}%.2f s")
    println(f"  (wall - jobWall - gaps = ${wallS - jobWallMs / 1000.0 - gapMs / 1000.0}%.2f s pre/post driver work)")
    println("== by label (graft.Jobs.labeled) ==")
    rows.groupBy { r =>
        val d = r.desc.replace('\n', ' ')
        if (d.startsWith("idx:") || d.startsWith("stage:") || d.startsWith("fb:")) d
        else if (d.contains("runId")) "(stream-engine)"
        else if (d.isEmpty) "(unlabeled)"
        else d.take(40)
      }
      .map { case (lbl, rs) =>
        (lbl, rs.size, rs.map(r => r.endMs - r.startMs).sum, rs.map(_.taskTimeMs).sum)
      }
      .toSeq.sortBy(-_._3).foreach { case (lbl, nJobs, wallMs, taskMs) =>
        println(f"  ${lbl.take(60)}%-60s jobs=$nJobs%4d jobWall=${wallMs / 1000.0}%7.2f s taskTime=${taskMs / 1000.0}%7.2f s")
      }
    println("== slowest jobs ==")
    rows.sortBy(r => -(r.endMs - r.startMs)).take(topN).foreach { r =>
      println(f"  job ${r.id}%4d ${(r.endMs - r.startMs) / 1000.0}%7.2f s  tasks=${r.tasks}%4d taskTime=${r.taskTimeMs / 1000.0}%7.2f s in=${r.inputB / 1e6}%8.1f MB shufR=${r.shufReadB / 1e6}%7.1f MB shufW=${r.shufWriteB / 1e6}%7.1f MB out=${r.outputB / 1e6}%7.1f MB  ${r.desc}")
    }
    println("== largest driver gaps ==")
    gaps.sortBy(-_._2).take(topN).foreach { case (a, g) =>
      println(f"  after job ${a.id}%4d  gap ${g / 1000.0}%7.2f s  (job was: ${a.desc.replace('\n', ' ')})")
    }
    if (sqBatches > 0) {
      println(s"== streaming micro-batch durations (summed over $sqBatches batches) ==")
      sqDur.synchronized(sqDur.toSeq.sortBy(-_._2)).foreach { case (k, v) =>
        println(f"  $k%-24s ${v / 1000.0}%7.2f s")
      }
    }
    println("== slowest stages (callsites) ==")
    stages.sortBy(-_._2).take(topN).foreach { case (sid, wall, nm, det) =>
      println(f"  stage $sid%4d ${wall / 1000.0}%7.2f s  $nm%-40s $det")
    }
    spark.stop()
  }
}
