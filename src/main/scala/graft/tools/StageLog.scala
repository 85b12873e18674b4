package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.PlanApi
import scala.jdk.CollectionConverters._

/** Per-run job and stage breakdown for the probe mains ([[ProbeQuery]],
  * [[MediaProbe]], [[TrainProbe]], [[EwmaProbe]]): how many jobs, stages
  * and tasks a run dispatched, which stage owns the wall clock, how much
  * spilled, how wide it ran. The callbacks are post-hoc (job-start,
  * stage- and task-completed events), so the measured runs are not
  * perturbed. */
final class StageLog private (spark: SparkSession) extends SparkListener {
  import StageLog.Stage

  private val jobs = new AtomicInteger(0)
  private val stages = new ConcurrentLinkedQueue[Stage]()
  // per-stage (max task runtime, sum task runtime, n tasks) for the
  // straggler ratio — merged lock-free per task-end event
  private val taskStats = new ConcurrentHashMap[Int, (Long, Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = Option(si.taskMetrics)
    stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(80),
      si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
      tm.fold(0L)(_.executorRunTime),
      tm.fold(0L)(m => m.memoryBytesSpilled + m.diskBytesSpilled),
      tm.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      tm.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      si.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { tm =>
      val rt = tm.executorRunTime
      taskStats.merge(e.stageId, (rt, rt, 1),
        (a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
    }

  /** Print run `run` of `label`: its top 12 stages by wall, then one
    * totals line; reset; return the run's (jobs, stages, tasks). Each
    * stage line carries its STRAGGLER RATIO (max task runtime / mean task
    * runtime) — the skew signal a per-stage aggregate alone can't show: a
    * 32-task stage whose wall equals one task's runtime is a partition-
    * skew stage even when its totals look healthy. */
  def dump(label: String, run: Int): (Int, Int, Int) = {
    PlanApi.drainListenerBus(spark.sparkContext)
    val done = stages.asScala.toSeq.sortBy(-_.wallMs)
    val mb = 1024.0 * 1024.0
    done.take(12).foreach { s =>
      val skew = Option(taskStats.get(s.id)).collect {
        case (mx, sum, n) if n > 1 && sum > 0 => f" skew=${mx.toDouble * n / sum}%4.1fx"
      }.getOrElse("")
      System.err.println(f"[probe-stage] $label run $run stage=${s.id}%-4d " +
        f"wall=${s.wallMs / 1000.0}%7.1fs cpu=${s.cpuMs / 1000.0}%8.1fs " +
        f"spill=${s.spill / mb}%9.1fMB shufR=${s.shufR / mb}%9.1fMB " +
        f"shufW=${s.shufW / mb}%9.1fMB tasks=${s.tasks}%-4d$skew ${s.name}")
    }
    val counts = (jobs.getAndSet(0), done.size, done.map(_.tasks).sum)
    System.err.println(f"[probe-stage] $label run $run jobs=${counts._1} " +
      f"stages=${counts._2} tasks=${counts._3} " +
      f"total_spill=${done.map(_.spill).sum / mb}%.1fMB (top 12 by wall above)")
    stages.clear()
    taskStats.clear()
    counts
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object StageLog {
  private final case class Stage(id: Int, name: String, wallMs: Long,
      cpuMs: Long, spill: Long, shufR: Long, shufW: Long, tasks: Int)

  def attach(spark: SparkSession): StageLog = {
    val log = new StageLog(spark)
    spark.sparkContext.addSparkListener(log)
    log
  }
}
