package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.PlanApi
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Shared local session for specs (one per suite; cheap at local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The jobs `body` starts, each as its SQL execution id: None marks a
    * job outside any query execution, such as Spark's schema inference. */
  def jobsOf(body: => Any): Seq[Option[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    })(body)
    seen.asScala.toSeq
  }

  /** The tasks `body` runs, as their task-end events. */
  def tasksOf(body: => Any): Seq[SparkListenerTaskEnd] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = seen.add(e)
    })(body)
    seen.asScala.toSeq
  }

  /** `body` run with `listener` attached, every event it caused delivered. */
  private def listening(listener: SparkListener)(body: => Any): Unit = {
    val sc = spark.sparkContext
    PlanApi.drainListenerBus(sc) // earlier jobs' events must not reach the listener
    sc.addSparkListener(listener)
    try { body; PlanApi.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM (getOrCreate)
    super.afterAll()
  }
}
