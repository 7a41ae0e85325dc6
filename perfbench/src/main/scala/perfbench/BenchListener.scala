package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark listener registered by the benchmark: jobs with the step (job
  * group) that issued them, stages with their task metrics, and every
  * task's duration. Raw records only; run.py aggregates them. */
final class BenchListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = 0L
  }
  final class Stage(val id: Int, val attempt: Int) {
    var name = ""
    var submit = 0L
    var complete = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var inputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.jobId, group, Clock.fromMs(e.time), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromMs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (info != null) s.taskMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId, si.attemptNumber())
    s.name = si.name
    s.tasks = si.numTasks
    s.submit = si.submissionTime.map(Clock.fromMs).getOrElse(0L)
    s.complete = si.completionTime.map(Clock.fromMs).getOrElse(0L)
  }

  def toJson: String = synchronized {
    val js = jobs.values.map { j =>
      Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end, "stages" -> j.stages)
    }
    val ss = stages.values.map { s =>
      Map("id" -> s.id, "attempt" -> s.attempt, "name" -> s.name, "submit" -> s.submit,
        "complete" -> s.complete, "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "input_bytes" -> s.inputBytes, "task_ms" -> s.taskMs.toSeq)
    }
    Json(Map("jobs" -> js, "stages" -> ss))
  }
}
