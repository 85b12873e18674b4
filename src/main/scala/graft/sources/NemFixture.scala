package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Deterministic in-repo NEM C/I/D fixture (format per FIXTURES.md §1 /
  * reference split.rs:64-125) so the splitter is exercised through the
  * driver's query surface without network or reference assets. */
object NemFixture {

  val csv: String =
    """C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,0000000466731056,,0000000466731056
      |I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,DEVIATION_MW,MW_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:04",ARWF1,PART1,45.2,44.0,1.2,1,"2025/06/07 23:15:00",1
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:08",ARWF1,PART1,45.9,44.0,1.9,1,"2025/06/07 23:15:00",1
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:12",BARCSF1,PART2,,44.0,,1,"2025/06/07 23:15:00",1
      |D,FPP,UNIT_MW,1,"2025/06/07 23:10:16",BARCSF1,PART2,12.5,12.0,0.5,1,"2025/06/07 23:15:00",1
      |I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,FREQ_MEASURE_HZ,HZ_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:04",NSW1,-0.012,0.003,1,"2025/06/07 23:15:00",1
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:08",NSW1,0.004,-0.001,1,"2025/06/07 23:15:00",1
      |D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 23:10:08",QLD1,0.002,-0.002,1,"2025/06/07 23:15:00",1
      |C,"END OF REPORT",123
      |""".stripMargin

  /** Recursively delete a fixture temp dir. Roundtrip fixtures must not
    * leak lakes across invocations: repeated bench reps previously
    * accumulated /tmp dirs and distorted warm samples (r11 finding #1). */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Write the fixture, split it to a temp lake, read the lake back and
    * summarize: (table, rows, n_double_cols, n_ts_cols, partition). The
    * whole flow — file source → C/I/D scan → 3-type inference → hive
    * write → partition-discovery read — runs inside the query. All
    * readback aggregates are materialized before return, so the temp
    * lake is deleted in-call (no cross-rep /tmp accumulation). */
  def splitRoundtrip(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_nem_in")
    val lake = Files.createTempDirectory("graft_nem_lake")
    try {
      Files.write(Paths.get(in.toString, "PUBLIC_FPP_20250607.csv"),
        csv.getBytes(StandardCharsets.UTF_8))
      val tables = NemCsv.splitToLake(spark, Seq(s"$in/PUBLIC_FPP_20250607.csv"), lake.toString).map(_._1)
      val summary = tables.map { t =>
        val df = spark.read.parquet(s"$lake/$t")
        val doubles = df.schema.count(_.dataType.typeName == "double")
        val tss = df.schema.count(_.dataType.typeName == "timestamp")
        (t, df.count(), doubles, tss,
          df.select("date").distinct().collect().map(_.get(0).toString).sorted.mkString(","))
      }
      summary.toDF("table", "rows", "n_double_cols", "n_ts_cols", "partitions")
    } finally {
      deleteRecursively(in)
      deleteRecursively(lake)
    }
  }

  /** Split → lake, then drop a second heterogeneous file (string-typed MW,
    * extra column) into one partition and run a compaction sweep twice:
    * first sweep must merge+widen, second must be a no-op (history
    * gate). Returns per-table (rows, files_after, second_sweep_work). */
  def compactRoundtrip(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.plans.Compactor
    import graft.sources.{HistoryTable => HT}
    val in = Files.createTempDirectory("graft_nem_in2")
    val lake = Files.createTempDirectory("graft_nem_lake2")
    val histDir = Files.createTempDirectory("graft_nem_hist")
    try {
      val hist = HT.compacted(spark, histDir.toString)
      Files.write(Paths.get(in.toString, "PUBLIC_FPP_20250607.csv"),
        csv.getBytes(StandardCharsets.UTF_8))
      NemCsv.splitToLake(spark, Seq(s"$in/PUBLIC_FPP_20250607.csv"), lake.toString)
      // late-arriving file with an un-evolved (all-string) schema + new column
      Seq(("2025/06/07 23:20:04", "NEWUNIT", "77.7", "extra-val"))
        .toDF("MEASUREMENT_DATETIME", "FPP_UNITID", "MEASURED_MW", "NEW_COL")
        .coalesce(1).write.mode("append")
        .parquet(s"$lake/FPP---UNIT_MW---1/date=2025-06-07")
      val sweep1 = Compactor.runOnce(spark, lake.toString, hist)
      val sweep2 = Compactor.runOnce(spark, lake.toString, hist)
      val out = sweep1.sortBy(t => (t.table, t.partition)).map { st =>
        val df = spark.read.parquet(s"$lake/${st.table}")
        (st.table, st.partition, st.rows, df.count(),
          df.schema.count(_.dataType.typeName == "double"), sweep2.size)
      }
      out.toDF("table", "partition", "compacted_rows", "readback_rows",
        "n_double_cols", "second_sweep_work")
    } finally {
      deleteRecursively(in)
      deleteRecursively(lake)
      deleteRecursively(histDir)
    }
  }
}
