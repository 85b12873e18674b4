package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** N-zip corpus parity check — the engine-side analog of the reference's
  * whole-corpus validation loop (`scripts/validate.sh:1-90` driving
  * `src/bin/verify.rs:13-135`): generate a deterministic corpus of
  * multi-table NEM zips, split ALL of them into one lake, reconcile
  * D-line counts zip↔parquet (footer metadata, no data scan), compact
  * the lake's many small per-zip files, and reconcile AGAIN — one
  * report proving the split is lossless at corpus width and compaction
  * moved bytes without moving counts.
  *
  * Usage: `runMain graft.tools.ReconcileCorpus [nZips=100] [workDir=tmp]`.
  * `ReconcileCorpusSpec` drives [[run]] at a smaller width and also
  * tamper-checks that a lost parquet file flips the report. */
object ReconcileCorpus {

  /** Deterministic multi-table NEM zip #i: 3+(i%5) UNIT_MW D-rows and
    * 2+(i%3) REGION_FREQ_MEASURE D-rows, timestamps varied per (zip,
    * row) within one report date so the corpus lands in one partition
    * per table (the compaction-interesting layout: N small files → one
    * generation). Returns the zip path. */
  def writeZip(dir: Path, i: Int): String = {
    val mmRows = (0 until 3 + i % 5).map { j =>
      f"""D,FPP,UNIT_MW,1,"2025/06/07 ${10 + i % 12}%02d:${j % 60}%02d:04",U${i}%03d,PART${i % 7},${40.0 + j}%.1f,44.0,1.2,1,"2025/06/07 23:15:00",1"""
    }
    val rfRows = (0 until 2 + i % 3).map { j =>
      f"""D,FPP,REGION_FREQ_MEASURE,1,"2025/06/07 ${10 + i % 12}%02d:${j % 60}%02d:08",NSW1,-0.01${j}%d,0.003,1,"2025/06/07 23:15:00",1"""
    }
    val csv = (Seq(
      "C,NEMP.WORLD,FPP,AEMO,PUBLIC,2025/06/07,23:15:04,0000000466731056,,0000000466731056",
      "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,DEVIATION_MW,MW_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO") ++
      mmRows ++ Seq(
      "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,FREQ_MEASURE_HZ,HZ_QUALITY_FLAG,INTERVAL_DATETIME,VERSIONNO") ++
      rfRows ++ Seq("C,\"END OF REPORT\",123"))
      .mkString("", "\n", "\n")
    val zipPath = dir.resolve(f"PUBLIC_FPP_20250607_$i%04d.zip")
    val zout = new ZipOutputStream(Files.newOutputStream(zipPath))
    try {
      zout.putNextEntry(new ZipEntry(f"PUBLIC_FPP_20250607_$i%04d.csv"))
      zout.write(csv.getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
    } finally zout.close()
    zipPath.toString
  }

  /** Expected D-line totals for an `n`-zip corpus (the formula the
    * generator follows) — the spec cross-checks the REPORTED source
    * counts against this independent derivation, so a generator bug and
    * a counting bug can't cancel out. */
  def expectedRows(n: Int): Map[String, Long] = Map(
    "FPP---UNIT_MW---1" -> (0 until n).map(i => 3L + i % 5).sum,
    "FPP---REGION_FREQ_MEASURE---1" -> (0 until n).map(i => 2L + i % 3).sum)

  /** Generate `n` zips under `workDir/zips`, ingest them in
    * `ingestBatch`-sized arrival batches (each batch one
    * [[graft.sources.NemCsv.splitToLake]] append — the poll-cycle shape,
    * which is what leaves the many-small-files problem compaction
    * exists for), reconcile, compact, reconcile again. Returns one
    * report frame (stage, table, source_rows, lake_rows, matches,
    * files) where `files` is the table's parquet file count at that
    * stage — the compaction evidence (n-ish before, small after). */
  def run(spark: SparkSession, workDir: String, n: Int,
      ingestBatch: Int = 1): DataFrame = {
    import spark.implicits._
    val zipDir = Files.createDirectories(Path.of(workDir, "zips"))
    val lake = Files.createDirectories(Path.of(workDir, "lake")).toString
    val histDir = Files.createDirectories(Path.of(workDir, "hist")).toString
    val zips = (0 until n).map(i => writeZip(zipDir, i))
    zips.grouped(ingestBatch).foreach(batch =>
      graft.sources.NemCsv.splitToLake(spark, batch, lake))

    // file counts are a DRIVER-side walk of the lake (this tool owns a
    // local lake by construction; a UDF would try the walk on executors)
    def fileCount(table: String): Int = {
      val s = Files.walk(Path.of(lake, table))
      try s.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    def report(stage: String): Seq[(String, String, Long, Long, Boolean, Int)] =
      graft.pipeline.Reconcile.run(spark, zips, lake).collect().toIndexedSeq.map { r =>
        val t = r.getAs[String]("table")
        (stage, t, r.getAs[Long]("sourceRows"), r.getAs[Long]("lakeRows"),
          r.getAs[Boolean]("matches"), fileCount(t))
      }

    val afterSplit = report("split")
    val hist = graft.sources.HistoryTable.compacted(spark, histDir)
    graft.plans.Compactor.runOnce(spark, lake, hist)
    val afterCompact = report("compacted")
    (afterSplit ++ afterCompact)
      .toDF("stage", "table", "source_rows", "lake_rows", "matches", "files")
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(100)
    val workDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft_reconcile_corpus").toString)
    val spark = graft.GraftSession.local()
    val t0 = System.nanoTime()
    val rep = run(spark, workDir, n).orderBy("stage", "table")
    rep.show(100, truncate = false)
    val bad = rep.filter(!col("matches")).count()
    println(f"[reconcile-corpus] n=$n mismatches=$bad elapsed=${(System.nanoTime() - t0) / 1e9}%.1f s workDir=$workDir")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
