package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Records every Spark job the server runs: its window, call site and the
  * summed task metrics of its stages. Loaded into the server JVM through
  * `-Dspark.extraListeners=perfbench.JobListener`; because the server runs
  * one request at a time, jobs are attributed to requests by time window.
  * Records stay in memory until [[JobListener.dumpJson]] is called.
  */
final class JobListener extends SparkListener {

  private final class Job(val id: Int, val start: Long, val callSite: String,
                          val stages: Seq[Int]) {
    var end: Long = -1L
  }

  private final class Stage(val job: Int) {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  JobListener.instance = this

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (JobListener.enabled) synchronized {
      // the result stage is named after the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs += new Job(e.jobId, e.time, site, e.stageIds)
      // a stage reused by a later job stays owned by the job that ran it
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(e.jobId)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  /** One JSON object per job: window (epoch ms), call site, and the count
    * and summed task metrics of the stages the job itself ran.
    */
  def dumpJson: String = synchronized {
    jobs.map { j =>
      val ss = j.stages.flatMap(stages.get).filter(s => s.job == j.id && s.tasks > 0)
      val site = j.callSite.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
      s"""{"job":${j.id},"start":${j.start},"end":${j.end},""" +
        s""""site":"$site","stages":${ss.size},""" +
        s""""tasks":${ss.map(_.tasks).sum},"cpu_ns":${ss.map(_.cpuNs).sum},""" +
        s""""gc_ms":${ss.map(_.gcMs).sum},""" +
        s""""shuffle_bytes":${ss.map(s => s.shuffleRead + s.shuffleWrite).sum},""" +
        s""""spill_bytes":${ss.map(_.spill).sum},"input_bytes":${ss.map(_.input).sum}}"""
    }.mkString("[", ",", "]")
  }
}

object JobListener {
  @volatile var instance: JobListener = _
  /** Off: new jobs are not recorded, so a run can time the same requests
    * with and without the listener's bookkeeping.
    */
  @volatile var enabled: Boolean = true
}
