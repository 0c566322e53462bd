package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, peakMem: Long,
                         recordsRead: Long, bytesRead: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)

final case class JobRec(id: Int, group: String, callSite: String,
                        startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageRec(id: Int, name: String, submitMs: Long, doneMs: Long)

/** What Spark reported for one window of work (one product call). */
final case class Window(tasks: Seq[TaskRec], jobs: Seq[JobRec],
                        stages: Seq[StageRec], peakMem: Long, failedTasks: Long)

/** The benchmark's own `SparkListener`: every count it reports comes from
  * Spark's task, job and stage events, never from inside graft.
  *
  * Untraced it keeps only the two figures the end-to-end metrics need, the
  * largest task `peakExecutionMemory` and the failed-task count; with
  * `detailed` set it also keeps every task, job and stage record. */
final class Recorder(sc: SparkContext) extends SparkListener {
  @volatile var detailed = false

  private val peak = new AtomicLong()
  private val failed = new AtomicLong()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val sqlCallSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  sc.addSparkListener(this)

  /** Starts a new window: forgets everything recorded so far. */
  def reset(): Unit = {
    PerfbenchBus.drain(sc)
    peak.set(0); failed.set(0)
    tasks.clear(); jobStarts.clear(); jobEnds.clear(); stages.clear()
  }

  /** Everything recorded since the last [[reset]], once Spark has
    * delivered every event of the actions that already returned. */
  def window(): Window = {
    PerfbenchBus.drain(sc)
    val jobs = jobStarts.asScala.toSeq.map { s =>
      def prop(k: String) = Option(s.properties).flatMap(x => Option(x.getProperty(k)))
      // a SQL job is named by the call site of the action that started its
      // query; AQE submits query stages from pool threads, whose own call
      // site says nothing
      val site = prop("spark.sql.execution.id").flatMap(_.toLongOption)
        .flatMap(id => Option(sqlCallSites.get(id)))
        .getOrElse(s.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?"))
      JobRec(s.jobId, prop("spark.jobGroup.id").getOrElse(""), site,
        s.time, Option(jobEnds.get(s.jobId)).getOrElse(s.time), s.stageIds)
    }.sortBy(_.id)
    Window(tasks.asScala.toSeq, jobs, stages.asScala.toSeq, peak.get(), failed.get())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (e.reason != Success) failed.incrementAndGet()
    if (m != null) peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    if (detailed && m != null) {
      val i = e.taskInfo
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (detailed) jobStarts.add(e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detailed) jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detailed) {
      val s = e.stageInfo
      // the operators the stage ran (Scan, WholeStageCodegen, Exchange, ...)
      val ops = s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      stages.add(StageRec(s.stageId, if (ops.isEmpty) s.name else ops.mkString(" > "),
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if detailed =>
      sqlCallSites.put(x.executionId, x.description)
    case _ =>
  }
}
