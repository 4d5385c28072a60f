package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into the program: a query's construct, plan or
  * execute phase. Times are wall-clock milliseconds, the clock Spark
  * stamps its job and task events with.
  */
final case class Phase(pass: Int, query: String, pkg: String, phase: String,
    startMs: Long, endMs: Long, seconds: Double) {
  def group: String = Phase.group(pass, query, phase)
}

object Phase {
  def group(pass: Int, query: String, phase: String): String =
    s"perfbench:$pass:$query:$phase"
}

final case class JobRec(id: Int, group: Option[String], submitMs: Long,
    var endMs: Long)

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, deserMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long)

/** A completed stage's persisted (cached) RDDs, in completion order. */
final case class StageRec(persistedRdds: Seq[Int])

/** Listener that keeps every job, stage and task of the traced pass in
  * memory. The harness is the only client and issues calls serially,
  * so a job belongs to the phase whose window contains its submission
  * time; the job group is used when it names that same window. A job
  * submitted from a pooled thread can carry a stale group inherited
  * from an earlier call, which is why the window decides.
  */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); tasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += StageRec(e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) tasks += TaskRec(e.stageId,
      info.launchTime, info.finishTime, m.executorRunTime,
      m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten)
  }

  def snapshot(): (Seq[JobRec], Map[Int, Int], Seq[StageRec], Seq[TaskRec]) =
    synchronized {
      (jobs.values.toVector, stageJob.toMap, stages.toVector, tasks.toVector)
    }
}
