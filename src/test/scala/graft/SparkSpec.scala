package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    PlanApi.drainListenerBus(sc) // earlier jobs' events must not reach the listener
    sc.addSparkListener(listener)
    try { body; PlanApi.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM (getOrCreate)
    super.afterAll()
  }
}
