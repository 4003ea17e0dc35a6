package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Records every Spark job and completed stage of the traced run, with the
  * wall-clock times Spark stamps on them. Keys run one after another on
  * the driver thread, so a job belongs to the key whose span contains its
  * submission time, and a stage to the key whose span contains its
  * submission time; that holds for jobs a key submits from its own thread
  * pools too, which local properties would misattribute.
  */
final class LayerListener extends SparkListener {
  import LayerListener.{Job, Stage}

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Stage(
        si.submissionTime.getOrElse(si.completionTime.getOrElse(0L)),
        si.numTasks,
        m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** Jobs submitted in `[fromMs, toMs)`; copies, so later events do not
    * change them. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs < toMs)
      .map(_.copy()).toSeq
  }

  /** Completed stages submitted in `[fromMs, toMs)`. */
  def stagesIn(fromMs: Long, toMs: Long): Seq[Stage] = synchronized {
    stages.filter(s => s.submitMs >= fromMs && s.submitMs < toMs).toSeq
  }
}

object LayerListener {

  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Stage(submitMs: Long, tasks: Int, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  /** Milliseconds of `[fromMs, toMs]` covered by at least one job. */
  def covered(jobs: Seq[Job], fromMs: Long, toMs: Long): Long = {
    val spans = jobs.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    spans.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
