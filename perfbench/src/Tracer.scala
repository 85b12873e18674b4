package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into the program, plus one Spark
  * listener and one query-execution listener that the benchmark
  * registers for the duration of each traced operation. Nothing inside
  * the program is instrumented.
  *
  * A span sets the local property [[Tracer.SpanProp]] on the calling
  * thread. Spark copies local properties into threads created under it,
  * so jobs submitted from `graft.Par.mapBounded` pools carry the span id
  * too. Jobs are further split by the call site Spark records as the
  * stage name (`<op> at <File>.scala:<line>`). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0L
  val spans = ArrayBuffer.empty[Span]
  val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Job]
  val plans = ArrayBuffer.empty[Plan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(-1L)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val j = new Job(e.jobId, span, siteFile(site), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inBytes += m.inputMetrics.bytesRead
            j.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val files = ScanNodes.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      val end = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      synchronized { plans += Plan(end, ms("analysis"), ms("optimization"), ms("planning"), files) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Run `body` in a span with both listeners attached. The listener bus
    * is drained before they are detached, so every event of the span's
    * jobs is counted; time `body` inside to leave the drain out. */
  def traced[T](name: String)(body: => T): T = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try span(name)(body)
    finally {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def drain(): Unit = org.apache.spark.BenchAccess.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized { nextId += 1; Span(nextId, name, System.currentTimeMillis(), System.nanoTime()) }
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, prev)
      synchronized { spans += s }
    }
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toList)

  def jobsOf(s: Span): Seq[Job] = jobs.values.filter(_.span == s.id).toSeq.sortBy(_.id)

  def plansOf(s: Span): Seq[Plan] = synchronized(plans.filter(p => p.endMs >= s.startMs && p.endMs <= s.endMs).toList)

  /** Span wall time covered by none of its jobs. */
  def driverGap(s: Span): Double =
    math.max(0.0, s.seconds - unionSeconds(jobsOf(s).map(j => (j.startMs, j.endMs))))
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, startMs: Long, startNs: Long) {
    var endMs = 0L
    var endNs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val span: Long, val site: String, val startMs: Long) {
    var endMs = startMs
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inBytes = 0L
    var outBytes = 0L
  }

  final case class Plan(endMs: Long, analysisMs: Long, optimizeMs: Long, physicalMs: Long, scanFiles: Long)

  private object ScanNodes extends AdaptiveSparkPlanHelper

  /** `collect at IngestDaemon.scala:72` → `IngestDaemon.scala`. */
  def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val s = if (at >= 0) site.substring(at + 4) else site
    val colon = s.lastIndexOf(':')
    if (colon > 0) s.substring(0, colon) else s
  }

  /** Seconds covered by the union of [start, end] ms intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }
}
