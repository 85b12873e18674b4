package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Fixture per FIXTURES.md §1 — asserts the reference's invariants
  * (test_processing.rs:544-727, verify.rs:113-134). */
class NemCsvSpec extends SparkSpec {

  val fixture: String =
    """C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,0000000466731056,,0000000466731056
      |I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,DEVIATION_MW,MW_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:04",ARWF1,PART1,45.2,44.0,1.2,1,"2025/06/07 23:15:00",1
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:08",ARWF1,PART1,45.9,44.0,1.9,1,"2025/06/07 23:15:00",1
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:12",BARCSF1,PART2,,44.0,,1,"2025/06/07 23:15:00",1
      |I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,FREQ_MEASURE_HZ,HZ_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:04",NSW1,-0.012,0.003,1,"2025/06/07 23:15:00",1
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:08",NSW1,0.004,-0.001,1,"2025/06/07 23:15:00",1
      |C,"END OF REPORT",123
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:12",NSW1,9.9,9.9,1,"2025/06/07 23:15:00",1
      |""".stripMargin

  /** A short row, a long row and a full one. */
  val ragged = "C,hdr\nI,FPP,X,1,C1,C2,C3\nD,FPP,X,1,a\nD,FPP,X,1,a,b,c,EXTRA\nD,FPP,X,1,a,b,c\n"

  /** A double and a timestamp column, each with a value of another type. */
  val mixed = "C,hdr\nI,FPP,X,1,C1,C2\n" +
    "D,FPP,X,1,1.5,\"2025/06/07 23:10:04\"\n" +
    "D,FPP,X,1,notanumber,\"2025/13/99 99:99:99\"\n" +
    "D,FPP,X,1,2.5,\"2025/06/07 23:10:08\"\n"

  /** 1,100 numeric rows, then a string beyond the sample. */
  val capped = "C,hdr\nI,FPP,Y,1,V\n" + (1 to 1100).map(i => s"D,FPP,Y,1,$i.0\n").mkString +
    "D,FPP,Y,1,tail_string\n"

  /** Table A fills more than SampleRows records before table B starts. */
  val perTable = "C,hdr\nI,FPP,A,1,VA\n" + (1 to 1100).map(i => s"D,FPP,A,1,$i.0\n").mkString +
    "I,FPP,B,1,VB\n" + (1 to 5).map(i => s"D,FPP,B,1,$i.5\n").mkString

  /** A timestamp, a double and an all-null column. */
  val allNull =
    """C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,1,,1
      |I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,MEASURED_MW,NOTE
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:04",ARWF1,45.2,
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:08",ARWF1,,
      |C,"END OF REPORT",2
      |""".stripMargin

  /** A zip of the fixture, a non-csv entry and a second csv entry. */
  def writeZip(dir: String, name: String): String = {
    val zipPath = Paths.get(dir, name)
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("PUBLIC_FPP_20250607.CSV"))
    zos.write(fixture.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("README.txt")) // non-csv: skipped
    zos.write("not a csv".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("SECOND_20250607.csv"))
    zos.write("C,hdr\nI,FPP,X,1,COL1\nD,FPP,X,1,v\n".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    zipPath.toString
  }

  def writeFixture(dir: String, name: String, body: String = fixture): String = {
    val p = Paths.get(dir, name)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("scanLines: row count == D-lines before footer; I/C never counted") {
    val recs = NemCsv.scanLines("PUBLIC_FPP_20250607.csv",
      fixture.linesIterator).toVector
    assert(recs.size === 5) // 3 + 2; the D after the C footer is ignored
    assert(recs.map(_.table).distinct ===
      Vector("FPP---UNIT_MW---1", "FPP---REGION_FREQ_MEASURE---1"))
  }

  test("scanLines: D before any I is dropped; missing top C tolerated") {
    val noHeader = "D,FPP,X,1,a,b\nI,FPP,X,1,COL1,COL2\nD,FPP,X,1,v1,v2\n"
    val recs = NemCsv.scanLines("f_20250607.csv", noHeader.linesIterator).toVector
    assert(recs.size === 1)
    assert(recs.head.values === Seq("v1", "v2"))
  }

  test("table name = cols 1-3 joined ---; first 4 cols dropped; quotes/space cleaned") {
    val recs = NemCsv.scanLines("PUBLIC_FPP_20250607.csv", fixture.linesIterator).toVector
    val r = recs.head
    assert(r.table === "FPP---UNIT_MW---1")
    assert(r.header === Seq("MEASUREMENT_DATETIME", "FPP_UNITID", "PARTICIPANTID",
      "MEASURED_MW", "SCHEDULED_MW", "DEVIATION_MW", "MW_QUALITY_FLAG",
      "INTERVAL_DATETIME", "VERSIONNO"))
    assert(r.values.head === "2025/06/07 23:10:04") // quotes stripped
  }

  test("filename date extraction: compact, separated, unknown, year guard") {
    assert(NemCsv.dateFromFilename("PUBLIC_FPP_RUN_202506072315_046.zip") === "2025-06-07")
    assert(NemCsv.dateFromFilename("x_2025-06-07_y.csv") === "2025-06-07")
    assert(NemCsv.dateFromFilename("x_2025_06_07_y.csv") === "2025-06-07")
    assert(NemCsv.dateFromFilename("nodatehere.csv") === "unknown-date")
    assert(NemCsv.dateFromFilename("x_19990607_.csv") === "unknown-date") // year < 2000
  }

  test("3-type inference: timestamp(+10:00), double, string; empty → null") {
    val dir = tmpDir("nemcsv")
    writeFixture(dir, "PUBLIC_FPP_20250607.csv")
    val raw = NemCsv.rawRecords(spark, Seq(s"$dir/PUBLIC_FPP_20250607.csv"))
    val df = NemCsv.tableFrame(raw, "FPP---UNIT_MW---1")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("MEASUREMENT_DATETIME") === TimestampType)
    assert(types("INTERVAL_DATETIME") === TimestampType)
    assert(types("MEASURED_MW") === DoubleType)
    assert(types("VERSIONNO") === DoubleType)
    assert(types("FPP_UNITID") === StringType)
    val rows = df.orderBy("MEASUREMENT_DATETIME").collect()
    assert(rows.length === 3)
    // 2025/06/07 23:10:04 +10:00 == 2025-06-07 13:10:04 UTC
    assert(rows(0).getTimestamp(0).toInstant.toString === "2025-06-07T13:10:04Z")
    assert(rows(2).isNullAt(df.schema.fieldIndex("MEASURED_MW"))) // empty → null
    assert(rows(0).getDouble(df.schema.fieldIndex("MEASURED_MW")) === 45.2)
  }

  test("splitToLake: hive layout, partition date from filename, row invariant") {
    val dir = tmpDir("nemlake_in")
    val lake = tmpDir("nemlake_out")
    writeFixture(dir, "PUBLIC_FPP_20250607.csv")
    val summary = NemCsv.splitToLake(spark, Seq(s"$dir/PUBLIC_FPP_20250607.csv"), lake).toMap
    assert(summary === Map("FPP---UNIT_MW---1" -> 3L, "FPP---REGION_FREQ_MEASURE---1" -> 2L))
    assert(Files.exists(Paths.get(lake, "FPP---UNIT_MW---1", "date=2025-06-07")))
    val back = spark.read.parquet(s"$lake/FPP---UNIT_MW---1")
    assert(back.count() === 3)
    assert(back.schema.fieldNames.contains("date")) // partition col discovered
  }

  test("zip source: multiple csv entries scanned in-stream, boundaries intact") {
    val raw = NemCsv.rawRecords(spark, Seq(writeZip(tmpDir("nemzip"), "PUBLIC_FPP_20250607.zip")))
    assert(raw.count() === 6) // 5 from entry 1 + 1 from entry 3
    assert(raw.filter(col("table") === "FPP---X---1").count() === 1)
    assert(raw.select("date").distinct().collect().map(_.getString(0)) === Array("2025-06-07"))
  }

  test("ragged D rows are padded/truncated to the header width (ANSI-safe)") {
    val dir = tmpDir("ragged")
    writeFixture(dir, "ragged_20250607.csv", ragged)
    val raw = NemCsv.rawRecords(spark, Seq(s"$dir/ragged_20250607.csv"))
    val df = NemCsv.tableFrame(raw, "FPP---X---1")
    val rows = df.orderBy("C1", "C2").collect()
    assert(rows.length === 3)
    assert(df.columns.toSeq === Seq("C1", "C2", "C3", "date"))
    // short row: missing cols are null; long row: extras dropped
    assert(rows.exists(r => r.getString(0) == "a" && r.isNullAt(1) && r.isNullAt(2)))
    assert(rows.count(r => r.getString(0) == "a" && r.getString(1) == "b") === 2)
  }

  test("mixed-type value in an inferred column nulls out, never fails (ANSI)") {
    // first value of C1 looks numeric → double; a later non-numeric value
    // must yield null (reference convert_numeric_column, chunk.rs:211-227),
    // not an ANSI cast failure. Same for a malformed timestamp in C2.
    val dir = tmpDir("mixed")
    writeFixture(dir, "mixed_20250607.csv", mixed)
    val raw = NemCsv.rawRecords(spark, Seq(s"$dir/mixed_20250607.csv"))
    val df = NemCsv.tableFrame(raw, "FPP---X---1")
    assert(df.schema("C1").dataType === DoubleType)
    assert(df.schema("C2").dataType === TimestampType)
    val rows = df.orderBy(col("C1").asc_nulls_last).collect()
    assert(rows.length === 3)
    assert(rows(0).getDouble(0) === 1.5)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1)) // both nulled, job alive
  }

  test("splitToLake inference sample is capped at SampleRows per file") {
    // 1,200 numeric rows then a string-only tail: type still double (the
    // reference sniffs 1,000 rows, chunk.rs:324) and the engine must not
    // fail on the out-of-sample strings — they null out via try_cast
    val dir = tmpDir("capped")
    writeFixture(dir, "capped_20250607.csv", capped)
    val raw = NemCsv.rawRecords(spark, Seq(s"$dir/capped_20250607.csv"))
    val df = NemCsv.tableFrame(raw, "FPP---Y---1")
    assert(df.schema("V").dataType === DoubleType)
    assert(df.count() === 1101)
    assert(df.filter(col("V").isNull).count() === 1) // the tail string
  }

  test("inference sample cap is per TABLE, not per file position") {
    // table A fills >SampleRows records first; table B starts after it and
    // must still get a full sample window (numeric type inferred), because
    // seq counts within each table, not across the file
    val dir = tmpDir("pertable")
    writeFixture(dir, "pertable_20250607.csv", perTable)
    val raw = NemCsv.rawRecords(spark, Seq(s"$dir/pertable_20250607.csv"))
    val b = NemCsv.tableFrame(raw, "FPP---B---1")
    assert(b.schema("VB").dataType === DoubleType)
    assert(b.count() === 5)
    val lake = tmpDir("pertable_lake")
    val summary = NemCsv.splitToLake(spark, Seq(s"$dir/pertable_20250607.csv"), lake).toMap
    assert(summary === Map("FPP---A---1" -> 1100L, "FPP---B---1" -> 5L))
    assert(spark.read.parquet(s"$lake/FPP---B---1").schema("VB").dataType === DoubleType)
  }

  /** Split `paths` into a fresh lake; every table's files read back equal
    * `tableFrame` of the raw records as a schema and a row multiset.
    * Returns the lake. */
  private def assertSplitIsTableFrame(paths: Seq[String]): String = {
    def multiset(df: DataFrame) = df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val lake = tmpDir("split-eq")
    val summary = NemCsv.splitToLake(spark, paths, lake)
    val raw = NemCsv.rawRecords(spark, paths)
    assert(summary.nonEmpty)
    summary.foreach { case (t, rows) =>
      val want = NemCsv.tableFrame(raw, t)
      val got = spark.read.parquet(s"$lake/$t").withColumn("date", col("date").cast("string"))
      assert(got.schema === want.schema, t)
      assert(multiset(got) === multiset(want), t)
      assert(got.count() === rows, t)
    }
    lake
  }

  test("splitToLake writes what tableFrame types, on every fixture") {
    val dir = tmpDir("split-fixtures")
    Seq("fpp" -> fixture, "allnull" -> allNull, "ragged" -> ragged, "mixed" -> mixed,
      "capped" -> capped, "pertable" -> perTable).foreach { case (n, body) =>
      assertSplitIsTableFrame(Seq(writeFixture(dir, s"${n}_20250607.csv", body)))
    }
    assertSplitIsTableFrame(Seq(writeZip(dir, "PUBLIC_FPP_20250607.zip")))
  }

  test("two files whose first values disagree: the first file in path order types the column") {
    val dir = tmpDir("split-disagree")
    // a is first by name: its 1.5 makes C1 double and its later timestamp
    // makes C2 a timestamp; b's first values (y, abc) would make both strings
    val a = writeFixture(dir, "a_20250607.csv",
      "C,hdr\nI,FPP,X,1,C1,C2\nD,FPP,X,1,1.5,\nD,FPP,X,1,x,\"2025/06/07 23:10:04\"\n")
    val b = writeFixture(dir, "b_20250608.csv",
      "C,hdr\nI,FPP,X,1,C1,C2\nD,FPP,X,1,y,abc\nD,FPP,X,1,2.5,\"2025/06/08 00:00:00\"\n")
    val lake = assertSplitIsTableFrame(Seq(b, a))
    val back = spark.read.parquet(s"$lake/FPP---X---1")
    assert(back.schema("C1").dataType === DoubleType)
    assert(back.schema("C2").dataType === TimestampType)
    assert(back.filter(col("C1").isNull).count() === 2) // x and y
    assert(back.filter(col("C2").isNull).count() === 2) // the empty value and abc
    assert(back.select("date").distinct().count() === 2)
  }

  test("job guard: splitting one file runs exactly 2 jobs, whatever its table count") {
    Seq(1, 5).foreach { n =>
      val body = "C,hdr\n" + (1 to n).map(t => s"I,FPP,T$t,1,A,B\nD,FPP,T$t,1,$t.5,x\n").mkString
      val file = writeFixture(tmpDir("jobs-split"), "jobs_20250607.csv", body)
      var tables = 0
      val jobs = jobsOf { tables = NemCsv.splitToLake(spark, Seq(file), tmpDir("jobs-split-lake")).length }
      assert(tables === n)
      assert(jobs.size === 2, s"$n tables: $jobs")
    }
  }

  test("a split whose job fails publishes nothing and leaves no staging dir") {
    def published(lake: String) = ParquetMeta.readDir(spark, lake)
    def staging(lake: String) = Files.walk(Paths.get(lake)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_split-")).toSeq
    val dir = tmpDir("split-fail")
    // the meta job fails: a zip cut off inside its first entry
    val zip = Files.readAllBytes(Paths.get(writeZip(dir, "whole_20250607.zip")))
    val corrupt = Paths.get(dir, "PUBLIC_FPP_20250607.zip")
    Files.write(corrupt, java.util.Arrays.copyOf(zip, 200))
    val lake1 = tmpDir("split-fail-lake")
    intercept[Exception](NemCsv.splitToLake(spark, Seq(corrupt.toString), lake1))
    assert(published(lake1).isEmpty && staging(lake1).isEmpty)
    // the write job fails after staging the first table: the second
    // table's lake directory is taken by a plain file
    val csv = writeFixture(dir, "PUBLIC_FPP_20250607.csv")
    val lake2 = tmpDir("split-fail-lake")
    Files.write(Paths.get(lake2, "FPP---REGION_FREQ_MEASURE---1"), Array[Byte](1))
    intercept[Exception](NemCsv.splitToLake(spark, Seq(csv), lake2))
    assert(published(lake2).isEmpty && staging(lake2).isEmpty)
  }

  test("csv line split: embedded commas and escaped quotes") {
    assert(NemCsv.splitCsvLine("""a,"b,c",d""").toSeq === Seq("a", "b,c", "d"))
    assert(NemCsv.splitCsvLine("a,\"he said \"\"hi\"\"\",c").toSeq === Seq("a", "he said \"hi\"", "c"))
    assert(NemCsv.splitCsvLine("a,,c").toSeq === Seq("a", "", "c"))
  }
}
