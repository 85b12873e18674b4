package graft.sources

import graft.SparkSpec
import graft.pipeline.CrunchSpec
import graft.plans.Compactor
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType, StructField, StructType, TimestampType}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The lake's readers take schemas from parquet footers read on the driver
  * instead of from Spark's schema inference, which runs one job per read,
  * and the histories read and write their files on the driver. Pins that
  * the footer schema is exactly what Spark infers, on every kind of file
  * the lake and the histories hold, and the job counts that this buys: one
  * merge job per compaction sweep, whatever the number of dirty
  * partitions, and none for a history gate, add or vacuum. The files the
  * program writes itself on `file:` paths carry no Hadoop `.crc` sidecar;
  * their pages carry parquet's CRCs instead.
  * Beside these job guards, the plan guard of a crunch day:
  * its grid runs once, spread over the cores, with no range exchange. */
class LakeFooterSchemaSpec extends SparkSpec {

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Visible parquet files under `dir`, recursively, in path order: the
    * lake readers' one rule. */
  private def parquetFiles(dir: String): Seq[String] =
    ParquetMeta.readDir(spark, dir).map(_.path).sorted

  /** A parquet file's physical schema and Spark schema footer key. */
  private def footer(f: String) = {
    val r = ParquetMeta.open(spark.sparkContext.hadoopConfiguration, new Path(f))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  /** A split fixture with timestamp, double and all-null string columns. */
  private def splitFixture(dir: String): String = {
    val csv = Paths.get(dir, "PUBLIC_FPP_20250607.csv")
    Files.writeString(csv,
      """C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,1,,1
        |I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,MEASURED_MW,NOTE
        |D,FPP,UNIT_MW,1,"2025/06/07 23:10:04",ARWF1,45.2,
        |D,FPP,UNIT_MW,1,"2025/06/07 23:10:08",ARWF1,,
        |I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_MEASURE_HZ
        |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:04",NSW1,0.003
        |C,"END OF REPORT",3
        |""".stripMargin)
    csv.toString
  }

  private def assertInferred(paths: Seq[String]): Unit = {
    assert(paths.nonEmpty)
    paths.foreach(p => assert(ParquetMeta.sparkSchema(spark, p) === spark.read.parquet(p).schema, p))
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
    val lake = s"$dir/lake"
    NemCsv.splitToLake(spark, Seq(splitFixture(dir)), lake)
    val files = parquetFiles(lake)
    assertInferred(files)
    val types = files.flatMap(f => ParquetMeta.sparkSchema(spark, f).fields)
      .map(f => f.name -> f.dataType).toMap
    assert(types("MEASUREMENT_DATETIME") === TimestampType)
    assert(types("MEASURED_MW") === DoubleType)
    assert(types("NOTE") === StringType) // all null: stays string
  }

  test("split files carry the parquet schema and Spark schema key of a DataFrameWriter write of the same frame") {
    val dir = tmpDir("footer-writer")
    val csv = splitFixture(dir)
    val lake = s"$dir/lake"
    val tables = NemCsv.splitToLake(spark, Seq(csv), lake).map(_._1)
    assert(tables.length === 2)
    val raw = NemCsv.rawRecords(spark, Seq(csv))
    tables.foreach { t =>
      val ref = s"$dir/ref/$t"
      NemCsv.tableFrame(raw, t).write.partitionBy("date").parquet(ref)
      val split = parquetFiles(s"$lake/$t").map(footer)
      assert(split.nonEmpty && split.forall(_ == split.head), t)
      assert(parquetFiles(ref).map(footer).toSet === Set(split.head), t)
    }
  }

  test("hidden and staged parquet files are not compacted, deleted or counted") {
    import spark.implicits._
    val lake = tmpDir("visible")
    val table = s"$lake/T---VIS---1"
    val part = s"$table/date=2025-06-07"
    (1 to 2).foreach(i => Seq((i.toDouble, s"id$i")).toDF("v", "id").coalesce(1)
      .write.mode("append").parquet(part))
    val one = Files.list(Paths.get(part)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val hidden = Files.copy(one, Paths.get(part, ".x.parquet"))
    val staged = Paths.get(table, "_split-x", "date=2025-06-07", "part-0.parquet")
    Files.createDirectories(staged.getParent)
    Files.copy(one, staged)
    assert(ParquetMeta.readDir(spark, table).map(_.rows).sum === 2)
    val stats = Compactor.runOnce(spark, lake, HistoryTable.compacted(spark, tmpDir("visible-hist")))
    assert(stats.map(s => (s.inputFiles, s.rows)) === Seq((2, 2L)))
    assert(Files.exists(hidden) && Files.exists(staged))
    assert(parquetFiles(table).map(_.split('/').last) === Seq("compacted.parquet"))
    assert(ParquetMeta.readDir(spark, table).map(_.rows).sum === 2)
  }

  test("sparkSchema = inferred schema: compacted output") {
    val lake = tmpDir("footer-compact")
    val part = mixedPartition(lake, "T---ONE---1", 4)
    Compactor.compactPartition(spark, lake, "T---ONE---1", "date=2025-06-07")
    assert(parquetFiles(part).map(_.split('/').last) === Seq("compacted.parquet"))
    assertInferred(parquetFiles(part))
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

  test("the program's own files on file: paths have no .crc sidecar: split, history adds, sweep, vacuum") {
    import spark.implicits._
    val dir = tmpDir("no-crc")
    val lake = s"$dir/lake"
    def crcs(root: String): Seq[String] = Files.walk(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    NemCsv.splitToLake(spark, Seq(splitFixture(dir)), lake)
    assert(parquetFiles(lake).size === 2)
    assert(crcs(lake).isEmpty, crcs(lake))
    val processed = HistoryTable.processed(spark, dir)
    Seq("a.zip", "b.zip").foreach(n => processed.add(Seq((n, 1L)).toDF("filename", "rows")))
    val compacted = HistoryTable.compacted(spark, dir)
    assert(Compactor.runOnce(spark, lake, compacted).size === 2)
    processed.vacuum()
    assert(parquetFiles(s"$dir/processed").map(_.split('/').last).forall(_.startsWith("consolidated-")))
    assert(processed.keys() === Set("a.zip", "b.zip") && compacted.files().size === 1)
    assert(crcs(s"$dir/processed").isEmpty && crcs(s"$dir/compacted").isEmpty)
    assert(crcs(lake).isEmpty, crcs(lake))
  }

  test("a byte flipped in a data page of a locally written file fails a read that verifies page CRCs") {
    val file = new Path(tmpDir("page-crc"), "flags.parquet")
    ParquetRowWriter(spark, Some(CompressionCodecName.UNCOMPRESSED))
      .write(file, StructType(Seq(StructField("flag", BooleanType))), Iterator(InternalRow(true)))
    val r = ParquetMeta.open(spark.sparkContext.hadoopConfiguration, file)
    // no dictionary for booleans: the chunk's last byte is the data page's packed value
    val last = try {
      val c = r.getFooter.getBlocks.get(0).getColumns.get(0)
      c.getStartingPos + c.getTotalSize - 1
    } finally r.close()
    val raf = new java.io.RandomAccessFile(file.toUri.getPath, "rw")
    try { raf.seek(last); val b = raf.read(); raf.seek(last); raf.write(b ^ 1) } finally raf.close()
    def read(verify: Boolean) = spark.read.option("parquet.page.verify-checksum.enabled", verify.toString)
      .parquet(file.toString).collect().map(_.getBoolean(0)).toSeq
    assert(read(verify = false) === Seq(false)) // unverified, the flip reads back as data
    val e = intercept[Exception](read(verify = true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CRC checksum verification failed")), e)
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

  test("job guard: a history vacuum below the bound runs no job") {
    import spark.implicits._
    val root = tmpDir("jobs-vacuum")
    val h = HistoryTable.processed(spark, root)
    Seq("a.zip", "b.zip", "c.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    val jobs = jobsOf(h.vacuum())
    assert(jobs.isEmpty, jobs)
    assert(h.files().size === 1)
    assert(h.keys() === Set("a.zip", "b.zip", "c.zip"))
  }

  test("job guard: a history vacuum of mixed schemas above the gate's bound runs no job") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("jobs-vacuum-big"))
    val n = HistoryTable.DriverKeyLimit.toInt
    h.add((0 to n).map(i => s"$i.zip").toDF("filename"))
    h.add(Seq(("late.zip", 7L)).toDF("filename", "rows"))
    val jobs = jobsOf(h.vacuum())
    assert(jobs.isEmpty, jobs)
    val merged = h.files().map(_.getPath.toString)
    assert(merged.size === 1 && ParquetMeta.read(spark, merged.head).rows === n + 2)
    assert(h.filterNew(Seq("0.zip", "late.zip", "new.zip")) === Seq("new.zip"))
  }

  test("job guard: the history gate on a non-empty history runs no schema-inference job") {
    import spark.implicits._
    val h = HistoryTable.processed(spark, tmpDir("jobs-gate"))
    Seq("a.zip", "b.zip").foreach(n => h.add(Seq((n, 1L)).toDF("filename", "rows")))
    var fresh = Seq.empty[String]
    val jobs = jobsOf { fresh = h.filterNew(Seq("a.zip", "c.zip")) }
    assert(fresh === Seq("c.zip"))
    // a driver set difference: no job at all
    assert(jobs.isEmpty, jobs)
  }

  test("job guard: a history add of driver rows runs no job") {
    import spark.implicits._
    val h = HistoryTable.downloaded(spark, tmpDir("jobs-add"))
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val jobs = jobsOf {
      h.add(Seq(("a.zip", "http://feed/a.zip", 10L)).toDF("filename", "url", "size_bytes")
        .withColumn("downloaded_at", org.apache.spark.sql.functions.lit(now)))
    }
    assert(jobs.isEmpty, jobs)
    assert(h.keys() === Set("a.zip"))
  }

  test("job guard: a compaction sweep over N dirty partitions runs exactly 1 job") {
    import spark.implicits._
    val lake = tmpDir("jobs-sweep")
    val hist = HistoryTable.compacted(spark, tmpDir("jobs-sweep-hist"))
    val parts = (1 to 3).map(d => f"date=2025-06-0$d")
    parts.foreach { p =>
      (1 to 2).foreach(i => Seq((i.toDouble, s"$p/$i")).toDF("v", "id").coalesce(1)
        .write.mode("append").parquet(s"$lake/T---SWEEP---1/$p"))
    }
    Compactor.runOnce(spark, lake, hist) // fills the history: the next sweep's gate reads it
    Seq((9.0, "late")).toDF("v", "id").coalesce(1).write.mode("append").parquet(s"$lake/T---SWEEP---1/${parts(0)}")
    Seq((9.0, "late")).toDF("v", "id").coalesce(1).write.mode("append").parquet(s"$lake/T---SWEEP---1/${parts(2)}")
    var stats = Seq.empty[Compactor.Stat]
    val jobs = jobsOf { stats = Compactor.runOnce(spark, lake, hist) }
    assert(stats.map(_.partition).sorted === Seq(parts(0), parts(2)))
    assert(jobs.size === 1, jobs)
    assert(jobsOf(Compactor.runOnce(spark, lake, hist)).isEmpty) // nothing dirty: no job
  }

  test("plan guard: a small crunch day has no range exchange and spreads its grid over the cores") {
    val day = CrunchSpec.smallDay(spark)
    val tasks = tasksOf(day.collect())
    val plan = day.queryExecution.executedPlan
    val ranged = aqe.collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranged.isEmpty, plan)
    // the spine's rows per task, read from each task's update of the
    // Range's row metric: the grid runs once, over more than one task
    val spines = aqe.collectWithSubqueries(plan) { case r: RangeExec => r.metrics("numOutputRows").id }
    assert(spines.size === 1, plan)
    val spineRows = tasks.flatMap(t => t.taskInfo.accumulables.filter(_.id == spines.head)
      .flatMap(_.update).map(_.toString.toLong)).filter(_ > 0)
    assert(spineRows.sum === 21600, spineRows)
    assert(spineRows.size > 1, spineRows)
  }

  test("mixed history: files written by Spark and on the driver gate, vacuum and read as one") {
    import spark.implicits._
    val root = tmpDir("mixed-hist")
    val dir = s"$root/downloaded"
    val h = HistoryTable.downloaded(spark, root)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    def row(n: String) = Seq((n, 10L)).toDF("filename", "size_bytes")
      .withColumn("downloaded_at", org.apache.spark.sql.functions.lit(now))
    // Spark's way: a Spark rewrite of two appends (every field optional)
    // and a Spark append
    Seq("a.zip", "b.zip").foreach(n => row(n).coalesce(1).write.mode("append").parquet(s"$root/spark"))
    spark.read.parquet(s"$root/spark").coalesce(1).write.mode("append").parquet(dir)
    row("c.zip").coalesce(1).write.mode("append").parquet(dir)
    Seq("d.zip", "e.zip").foreach(n => h.add(row(n)))
    val all = Set("a.zip", "b.zip", "c.zip", "d.zip", "e.zip")
    def assertOneSchema(): Unit = {
      val read = spark.read.parquet(dir)
      parquetFiles(dir).foreach(f => assert(ParquetMeta.sparkSchema(spark, f) === read.schema, f))
      assert(read.as[(String, Long, java.sql.Timestamp)].collect().map(_._1).toSet === all)
    }
    assert(parquetFiles(dir).size === 4)
    assertOneSchema()
    // a driver add writes the physical schema and Spark schema key of a Spark append
    val byKey = parquetFiles(dir).map(f => spark.read.parquet(f).as[(String, Long, java.sql.Timestamp)]
      .collect().head._1 -> footer(f)).toMap
    assert(byKey("d.zip") === byKey("c.zip"))
    assert(byKey("d.zip")._1.toString.contains("required int96 downloaded_at"), byKey("d.zip"))
    assert(h.filterNew(Seq("a.zip", "c.zip", "e.zip", "f.zip")) === Seq("f.zip"))
    val jobs = jobsOf(h.vacuum())
    assert(jobs.isEmpty, jobs)
    assert(parquetFiles(dir).size === 1)
    assertOneSchema()
    val reopened = HistoryTable.downloaded(spark, root)
    assert(reopened.keys() === all)
    assert(reopened.filterNew(Seq("a.zip", "c.zip", "e.zip", "f.zip")) === Seq("f.zip"))
  }
}
