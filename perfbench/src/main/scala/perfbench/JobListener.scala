package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-task numbers the layer metrics are built from. */
final case class TaskRec(durMs: Double, cpuNs: Long, gcMs: Long,
                         recordsIn: Long, recordsOut: Long, shuffleWriteBytes: Long,
                         fetchWaitMs: Long, spillBytes: Long, failed: Boolean)

final class StageRec(val id: Int, val parents: Seq[Int], val shuffleId: Option[Int]) {
  def isMap: Boolean = shuffleId.isDefined
  var submittedMs: Double = Double.NaN
  var completedMs: Double = Double.NaN
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
}

final class JobRec(val id: Int, val startMs: Double, val execId: Option[Long],
                   val stageIds: Seq[Int], val finalIsMap: Boolean, val callSite: String) {
  var endMs: Double = Double.NaN
  /** Stages this job actually ran (submitted while it was the running job). */
  val ran = mutable.ArrayBuffer.empty[Int]
}

/**
 * Benchmark-side listener: records every Spark job, stage, task and SQL
 * execution while it is registered. Nothing in the program is touched;
 * the phase of a job is decided afterwards from the execution's write target,
 * the job's kind (shuffle-map job or result job) and its order (see Phases).
 */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  /** SQL execution id → write target (last path segment) or "" for reads. */
  val execTarget = mutable.HashMap.empty[Long, String]

  private val Insert = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  /** Output path of the plan's file write, if any (the node's simple string
    * carries the command's arguments, the output path first). */
  private def writeTarget(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      Insert.findFirstMatchIn(p.simpleString).map(_.group(1))
    else p.children.iterator.map(writeTarget).collectFirst { case Some(t) => t }

  private def execIdOf(p: Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.sql.execution.id"))).map(_.toLong)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val target = writeTarget(s.sparkPlanInfo)
        .map(_.stripSuffix("/").split('/').last).getOrElse("")
      execTarget(s.executionId) = target
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageInfos.foreach { si =>
      stages.getOrElseUpdate(si.stageId,
        new StageRec(si.stageId, si.parentIds, SparkInternals.shuffleId(si)))
    }
    val last = e.stageInfos.maxBy(_.stageId)
    // a stage's name is the short call site of the action that made it
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, execIdOf(e.properties),
      e.stageIds, SparkInternals.shuffleId(last).isDefined, last.name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val st = stages.getOrElseUpdate(si.stageId,
      new StageRec(si.stageId, si.parentIds, SparkInternals.shuffleId(si)))
    st.submittedMs = si.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs())
    // the running job that lists this stage is the one that submitted it
    jobs.values.filter(j => j.endMs.isNaN && j.stageIds.contains(si.stageId))
      .lastOption.foreach(_.ran += si.stageId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.completedMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, Nil, None))
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      st.tasks += TaskRec(
        durMs = info.duration.toDouble,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        recordsIn = m.inputMetrics.recordsRead,
        recordsOut = m.outputMetrics.recordsWritten,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = m.diskBytesSpilled,
        failed = !info.successful)
    else if (info != null && !info.successful)
      st.tasks += TaskRec(info.duration.toDouble, 0, 0, 0, 0, 0, 0, 0, failed = true)
  }

  def orderedJobs: Seq[JobRec] = synchronized(jobs.values.toList.sortBy(_.id))

  def stagesOf(j: JobRec): Seq[StageRec] = synchronized(j.ran.toList.flatMap(stages.get))

  /** Every stage any job listed, run or skipped. */
  def stage(id: Int): Option[StageRec] = synchronized(stages.get(id))
}

/** Aggregates over a set of stages. */
object StageStats {
  def tasks(ss: Seq[StageRec]): Seq[TaskRec] = ss.flatMap(_.tasks)
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** max ÷ median task time within each stage, the worst stage. Stages with a
    * single task have no skew (ratio 1). */
  def skew(ss: Seq[StageRec]): Double = {
    val r = ss.filter(_.tasks.nonEmpty).map { s =>
      val d = s.tasks.map(t => math.max(t.durMs, 1.0)).toList.sorted
      d.last / Stats.median(d)
    }
    if (r.isEmpty) 1.0 else r.max[Double]
  }
}
