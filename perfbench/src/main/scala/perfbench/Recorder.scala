package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Everything one traced run needs from the scheduler: every job with
  * the call and phase it ran for (read back from the local properties
  * the harness sets before each phase), its call site, its stages, and
  * per stage the task counters the per-layer table reports. Registered
  * only around traced passes, so untraced passes pay nothing for it. */
final class Recorder extends SparkListener {

  final class Job(
      val id: Int, val call: String, val phase: String, val module: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }

  final class Stage(val id: Int) {
    var submitMs = 0L
    var doneMs = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var overheadMs = 0L
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, Stage]()
  // call site of each SQL execution, taken on the thread that started it;
  // the jobs of an execution may be submitted from Spark's own threads
  private val sqlSites = mutable.HashMap[String, String]()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val site = sqlSites.getOrElse(prop("spark.sql.execution.id"),
      e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobs(e.jobId) = new Job(e.jobId, prop(Recorder.CallKey), prop(Recorder.PhaseKey),
      Recorder.module(site), e.time, e.stageInfos.map(_.stageId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId.toString) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => if (s.submitMs == 0L) s.submitMs = t)
    e.stageInfo.completionTime.foreach(t => s.doneMs = math.max(s.doneMs, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val dur = e.taskInfo.duration
    s.taskMs += dur
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.overheadMs += math.max(0L, dur - m.executorRunTime)
    }
  }

  def jobsOf(call: String): Seq[Job] = synchronized {
    jobs.values.filter(_.call == call).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
}

object Recorder {
  val CallKey = "perfbench.call"
  val PhaseKey = "perfbench.phase"

  /** The engine module that launched a job: the first `graft.*` frame
    * of the job's call site (`graft.Materialize` and the top-level
    * entry objects count as their own module). Jobs with no engine
    * frame were launched by the harness's own consuming action. */
  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "harness"
      case Some(frame) =>
        val parts = frame.split('.')
        if (parts.length > 2 && parts(1).forall(c => c.isLower || c.isDigit)) parts(1)
        else parts(1).takeWhile(_ != '$').toLowerCase
    }
}
