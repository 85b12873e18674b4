package graft.sources

import graft.SparkSpec
import graft.plans.Compactor
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftops.PlanApi
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The lake's readers take schemas from parquet footers read on the driver
  * instead of from Spark's schema inference, which runs one job per read.
  * Pins that the footer schema is exactly what Spark infers, on every kind
  * of file the lake holds, and the job counts that this buys: one rewrite
  * job per compacted partition, one per history vacuum, and no inference
  * job behind the history gate. */
class LakeFooterSchemaSpec extends SparkSpec {

  /** Visible parquet files under `dir`, recursively, in path order. */
  private def parquetFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter { p =>
        val n = p.split('/').last
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sorted

  private def assertInferred(paths: Seq[String]): Unit = {
    assert(paths.nonEmpty)
    paths.foreach(p => assert(ParquetMeta.sparkSchema(spark, p) === spark.read.parquet(p).schema, p))
  }

  /** The jobs `body` starts, each as its SQL execution id: None marks a
    * job outside any query execution, such as Spark's schema inference. */
  private def jobsOf(body: => Any): Seq[Option[String]] = {
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

  /** A partition of `n` small files whose `mw` alternates string and
    * double, every other one with an extra column. */
  private def mixedPartition(lake: String, table: String, n: Int): String = {
    import spark.implicits._
    val part = s"$lake/$table/date=2025-06-07"
    (0 until n).foreach { i =>
      val df =
        if (i % 2 == 0) Seq((s"$i.5", s"id$i")).toDF("mw", "id")
        else Seq((i + 0.5, s"id$i", i.toDouble)).toDF("mw", "id", "extra")
      df.coalesce(1).write.mode("append").parquet(part)
    }
    part
  }

  test("sparkSchema = inferred schema: split output with timestamp, double and all-null string columns") {
    val dir = tmpDir("footer-split")
    val csv = Paths.get(dir, "PUBLIC_FPP_20250607.csv")
    Files.writeString(csv,
      """C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,1,,1
        |I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,MEASURED_MW,NOTE
        |D,FPP,UNIT_MW,1,"2025/06/07 23:10:04",ARWF1,45.2,
        |D,FPP,UNIT_MW,1,"2025/06/07 23:10:08",ARWF1,,
        |C,"END OF REPORT",2
        |""".stripMargin)
    val lake = s"$dir/lake"
    NemCsv.splitToLake(spark, Seq(csv.toString), lake).collect()
    val files = parquetFiles(lake)
    assertInferred(files)
    val types = files.flatMap(f => ParquetMeta.sparkSchema(spark, f).fields)
      .map(f => f.name -> f.dataType).toMap
    assert(types("MEASUREMENT_DATETIME") === TimestampType)
    assert(types("MEASURED_MW") === DoubleType)
    assert(types("NOTE") === StringType) // all null: stays string
  }

  test("sparkSchema = inferred schema: single-file and multi-file compacted output") {
    val lake = tmpDir("footer-compact")
    val single = mixedPartition(lake, "T---ONE---1", 4)
    Compactor.compactPartition(spark, lake, "T---ONE---1", "date=2025-06-07")
    assert(parquetFiles(single).map(_.split('/').last) === Seq("compacted.parquet"))
    assertInferred(parquetFiles(single))

    val multi = s"$lake/T---MULTI---1/date=2025-06-07"
    spark.range(0, 2000)
      .selectExpr("CAST(id AS DOUBLE) AS v", "concat('id-', md5(CAST(id AS STRING))) AS id")
      .coalesce(1).write.mode("append").parquet(multi)
    Compactor.compactPartition(spark, lake, "T---MULTI---1", "date=2025-06-07",
      targetFileBytes = 16L * 1024)
    val gen = parquetFiles(multi)
    assert(gen.size > 1 && gen.forall(_.split('/').last.startsWith("compacted-g")), gen)
    assertInferred(gen)
  }

  test("sparkSchema = inferred schema: history files, consolidated file and the history directory") {
    import spark.implicits._
    val root = tmpDir("footer-hist")
    val h = HistoryTable.downloaded(spark, root)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    // a primitive Long column is non-nullable as written; inference makes it nullable
    Seq("a.zip", "b.zip").foreach { n =>
      h.add(Seq((n, 10L)).toDF("filename", "size_bytes")
        .withColumn("downloaded_at", org.apache.spark.sql.functions.lit(now)))
    }
    assertInferred(parquetFiles(s"$root/downloaded"))
    assertInferred(Seq(s"$root/downloaded"))
    h.vacuum()
    val consolidated = parquetFiles(s"$root/downloaded")
    assert(consolidated.size === 1 && consolidated.head.split('/').last.startsWith("consolidated-"))
    assertInferred(consolidated)
  }

  test("job guard: compacting a 6-file mixed-schema partition runs exactly 1 job") {
    val lake = tmpDir("jobs-compact")
    val part = mixedPartition(lake, "T---JOBS---1", 6)
    var stat: Option[Compactor.Stat] = None
    val jobs = jobsOf { stat = Compactor.compactPartition(spark, lake, "T---JOBS---1", "date=2025-06-07") }
    assert(jobs.size === 1, jobs)
    assert(jobs.forall(_.isDefined), s"a job ran outside any query: $jobs")
    assert(stat.map(_.rows) === Some(6L))
    assert(spark.read.parquet(part).count() === 6)
  }

  test("job guard: a history vacuum runs exactly 1 job") {
    import spark.implicits._
    val root = tmpDir("jobs-vacuum")
    val h = HistoryTable.processed(spark, root)
    Seq("a.zip", "b.zip", "c.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    val jobs = jobsOf(h.vacuum())
    assert(jobs.size === 1, jobs)
    assert(jobs.forall(_.isDefined), s"a job ran outside any query: $jobs")
    assert(h.files().size === 1)
  }

  test("job guard: the history gate on a non-empty history runs no schema-inference job") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("jobs-gate"))
    Seq("a.zip", "b.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    var fresh = Array.empty[String]
    val jobs = jobsOf {
      fresh = h.filterNew(Seq("a.zip", "c.zip").toDF("f"), "f").as[String].collect()
    }
    assert(fresh === Array("c.zip"))
    assert(jobs.forall(_.isDefined), s"a job ran outside any query: $jobs")
    // the key broadcast and the anti-join's collect; no distinct shuffle
    assert(jobs.size <= 2, jobs)
  }
}
