package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark listener that keeps every job of a traced run in memory, keyed
  * by the job description the client thread set when it started the job
  * (`op<i>:<phase>`). Attribution to ops happens after the run, once the
  * listener bus has drained, so nothing is computed inside the timed
  * region.
  */
final class Trace extends SparkListener {
  final class Job(val id: Int, val desc: String, val callSite: String, val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val j = new Job(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
      // a stage is named after the user call that submitted its job
      e.stageInfos.map(_.name).mkString(";"),
      e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs whose description is exactly `desc`, once the bus is drained. */
  def jobsOf(desc: String): Seq[Job] = synchronized {
    jobs.valuesIterator.filter(_.desc == desc).toSeq
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Block until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BusDrain(sc)
}
