package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.perfbench.JobCount
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark engine counters for one traced run, from a listener the
  * benchmark registers (nothing in the program is instrumented).
  *
  * Only jobs submitted after `attach` are counted. Listener events arrive
  * asynchronously, so `finish` first drains: it polls until the listener
  * has seen the end of every job the scheduler has submitted. Failed
  * jobs, stages and tasks are counted, never dropped. The classes Spark's
  * code generator compiled meanwhile come from its JVM-wide counter.
  */
final class EngineMetrics private (sc: SparkContext, firstJob: Int) extends SparkListener {

  private val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val jobsDone = mutable.HashSet.empty[Int]
  private val trackedStages = mutable.HashSet.empty[Int]
  private var t = EngineMetrics.Totals()
  // per completed stage attempt: wall ms, and each task's ms
  private val stageWall = mutable.HashMap.empty[(Int, Int), Long]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.jobId >= firstJob)
      e.stageInfos.foreach(s => trackedStages += s.stageId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId >= firstJob) {
      jobsDone += e.jobId
      val failed = e.jobResult match { case JobSucceeded => 0; case _ => 1 }
      t = t.copy(jobs = t.jobs + 1, failedJobs = t.failedJobs + failed)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    if (trackedStages(s.stageId)) {
      val failed = if (s.failureReason.isDefined) 1 else 0
      t = t.copy(stages = t.stages + 1, failedStages = t.failedStages + failed)
      for (a <- s.submissionTime; b <- s.completionTime)
        stageWall((s.stageId, s.attemptNumber())) = b - a
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (trackedStages(e.stageId)) {
      val failed = if (e.taskInfo.successful) 0 else 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      t = if (m == null) t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
      else t.copy(
        tasks = t.tasks + 1,
        failedTasks = t.failedTasks + failed,
        taskMs = t.taskMs + m.executorRunTime,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
        outputBytes = t.outputBytes + m.outputMetrics.bytesWritten,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Block until every submitted job's end event has been delivered. */
  def drain(timeoutSec: Double = 60.0): Unit = {
    val deadline = System.nanoTime() + (timeoutSec * 1e9).toLong
    val target = JobCount.submitted(sc)
    def pending: Int = synchronized((firstJob until target).count(j => !jobsDone(j)))
    while (pending > 0) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"listener drain timed out: $pending of ${target - firstJob} jobs have no end event")
      Thread.sleep(2)
    }
  }

  /** Drain, detach, and return the counts and the task skew. The skew is
    * the longest stage's max task time over its median task time. */
  def finish(): EngineMetrics.Window = {
    try drain() finally sc.removeSparkListener(this)
    synchronized {
      val skew =
        if (stageWall.isEmpty) 1.0
        else {
          val ds = stageTasks.getOrElse(stageWall.maxBy(_._2)._1, mutable.ArrayBuffer.empty[Long]).sorted
          if (ds.isEmpty) 1.0
          else ds.last.toDouble / math.max(1L, ds((ds.length - 1) / 2)).toDouble
        }
      EngineMetrics.Window(t, skew,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
    }
  }
}
object EngineMetrics {

  final case class Totals(
      jobs: Long = 0, failedJobs: Long = 0, stages: Long = 0, failedStages: Long = 0,
      tasks: Long = 0, failedTasks: Long = 0, taskMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, inputBytes: Long = 0, outputBytes: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0)

  final case class Window(d: Totals, taskSkew: Double, codegenClasses: Long)

  /** Register a collector for the jobs submitted from now on. */
  def attach(sc: SparkContext): EngineMetrics = {
    val m = new EngineMetrics(sc, JobCount.submitted(sc))
    sc.addSparkListener(m)
    m
  }
}
