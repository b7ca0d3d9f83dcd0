package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark job record for the traced run: one per job whose job group the
  * driver set (`pb:<pass>:<op>:<phase>`), with the task metrics of all of
  * its stages summed. Jobs outside a `pb:` group are ignored. Times are
  * epoch milliseconds, durations milliseconds. */
final case class JobRecord(group: String, start: Long, var end: Long = -1L,
    var tasks: Long = 0L, var taskMs: Long = 0L, var gcMs: Long = 0L,
    var schedWaitMs: Long = 0L, // task launch minus its stage's submission
    var inputBytes: Long = 0L, var shuffleWriteBytes: Long = 0L,
    var shuffleReadBytes: Long = 0L)

/** Listener that ties Spark jobs to benchmark spans through the job group.
  * Events arrive on Spark's listener bus thread; reads happen after
  * [[drain]] on the driver thread, so every access is synchronized. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageJob = mutable.HashMap[Int, JobRecord]()
  private val stageSubmitted = mutable.HashMap[Int, Long]()
  private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith("pb:")) {
      val r = JobRecord(group, e.time)
      jobs(e.jobId) = r
      e.stageIds.foreach(stageJob(_) = r)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    if (stageJob.contains(e.stageInfo.stageId))
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    for (r <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.taskMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      stageSubmitted.get(e.stageId).foreach { s =>
        r.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Wait until every recorded job has ended and the bus has been quiet
    * for a moment (at most `timeoutMs`). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized {
      jobs.values.forall(_.end >= 0) && System.nanoTime() - lastEvent > 300000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def records: Seq[JobRecord] = synchronized(jobs.values.toList)
}
