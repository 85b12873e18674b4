package graft.plans

import graft.SparkSpec
import graft.sources.HistoryTable
import java.nio.file.{Files, Paths}

class CompactorSpec extends SparkSpec {

  test("compactPartition: many files → one compacted.parquet, widened, rows preserved") {
    import spark.implicits._
    val lake = tmpDir("lake")
    val part = s"$lake/FPP---UNIT_MW---1/date=2025-06-07"
    Seq(("1.0", "a")).toDF("mw", "id").coalesce(1).write.mode("append").parquet(part)
    Seq((2.0, "b", 9.0)).toDF("mw", "id", "extra").coalesce(1).write.mode("append").parquet(part)
    // pre-state: at least 2 part files
    val before = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet")).count()
    assert(before >= 2)
    val stat = Compactor.compactPartition(spark, lake, "FPP---UNIT_MW---1", "date=2025-06-07").get
    assert(stat.rows === 2)
    val files = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    assert(files.length === 1 && files.head.endsWith("compacted.parquet"))
    val back = spark.read.parquet(s"$lake/FPP---UNIT_MW---1")
    assert(back.count() === 2)
    assert(back.schema("mw").dataType.typeName === "double") // widened from string
  }

  test("crash recovery: interrupted publish is repaired without loss or duplication") {
    import spark.implicits._
    val lake = tmpDir("lakecrash")
    val part = s"$lake/T---C---1/date=2025-06-07"
    Seq((1.0, "a"), (2.0, "b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    // simulate a crash AFTER the merge result + manifest were written but
    // BEFORE any deletes: hidden new file holds the merged copy
    val inputs = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    assert(inputs.length === 1)
    spark.read.parquet(part).coalesce(1).write
      .parquet(s"$part/.crash_stage") // stand-in merge output
    val stagePart = Files.list(Paths.get(s"$part/.crash_stage"))
      .filter(_.toString.endsWith(".parquet")).toArray.head.toString
    Files.move(Paths.get(stagePart), Paths.get(s"$part/.compact_new.parquet"))
    Files.writeString(Paths.get(s"$part/.compact_manifest"),
      new java.io.File(inputs.head).getName)
    // next sweep must: delete the listed input, promote the new file
    val stat = Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07")
    assert(stat.isEmpty) // after recovery there is nothing left to compact
    val back = spark.read.parquet(s"$lake/T---C---1")
    assert(back.count() === 2) // no loss, no duplication
    val files = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    assert(files.length === 1 && files.head.endsWith("compacted.parquet"))
    // orphaned new-file WITHOUT manifest (crash before manifest): discarded
    Seq((3.0, "c")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    spark.read.parquet(part).limit(1).coalesce(1).write.parquet(s"$part/.crash2")
    val stale = Files.list(Paths.get(s"$part/.crash2"))
      .filter(_.toString.endsWith(".parquet")).toArray.head.toString
    Files.move(Paths.get(stale), Paths.get(s"$part/.compact_new.parquet"))
    val stat2 = Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07")
    assert(stat2.get.rows === 3) // stale new-file discarded, real merge ran
    assert(spark.read.parquet(s"$lake/T---C---1").count() === 3)
  }

  test("runOnce: dirty partitions compact concurrently, results complete and correct") {
    import spark.implicits._
    val lake = tmpDir("lakepar")
    val hist = HistoryTable.compacted(spark, tmpDir("histpar"))
    // 12 independent partitions across 3 tables, 2 small files each
    val parts = for (t <- 1 to 3; d <- 1 to 4) yield (s"T---P$t---1", f"date=2025-06-$d%02d")
    parts.foreach { case (t, p) =>
      Seq((1.0, s"$t/$p/a")).toDF("v", "id").coalesce(1).write.mode("append").parquet(s"$lake/$t/$p")
      Seq((2.0, s"$t/$p/b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(s"$lake/$t/$p")
    }
    val stats = Compactor.runOnce(spark, lake, hist)
    assert(stats.length === 12)
    assert(stats.map(_.rows).sum === 24)
    parts.foreach { case (t, p) =>
      val files = Files.list(Paths.get(s"$lake/$t/$p"))
        .filter(_.toString.endsWith(".parquet")).toArray.map(_.toString)
      assert(files.length === 1 && files.head.endsWith("compacted.parquet"))
    }
    assert(Compactor.runOnce(spark, lake, hist).isEmpty) // idempotent after fan-out
  }

  test("runLoop: sweeps on cadence, folds files arriving between sweeps, vacuums history") {
    import spark.implicits._
    val lake = tmpDir("lakeloop")
    val histDir = tmpDir("histloop")
    val hist = HistoryTable.compacted(spark, histDir)
    val part = s"$lake/T---L---1/date=2025-06-07"
    Seq((1.0, "a")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    // publish a second file while the loop sleeps between sweeps
    // 3 sweeps: compact, fold the file published after sweep 1 (from the
    // loop thread via onSweep — deterministic under load), then an empty
    // sweep whose iteration vacuums the 2 history files first (the 1ms
    // vacuum cadence is due on every wake)
    var sweepN = 0
    val stats = Compactor.runLoop(spark, lake, hist,
      intervalMillis = 100L, vacuumIntervalMillis = 1L,
      maxSweeps = 3, installShutdownHook = false,
      onSweep = _ => {
        sweepN += 1
        if (sweepN == 1)
          Seq((2.0, "b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
      })
    assert(stats.map(_.rows) === Seq(1L, 2L)) // sweep 3 had nothing to do
    assert(spark.read.parquet(s"$lake/T---L---1").count() === 2)
    val histFiles = Files.list(Paths.get(s"$histDir/compacted"))
      .filter(_.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(histFiles.length === 1, s"expected vacuumed history, found ${histFiles.length} files")
    assert(histFiles.head.split('/').last.startsWith("consolidated-"))
    assert(hist.keys().size === 2) // keys survived consolidation
  }

  test("runOnce: anti-join bookkeeping makes the sweep idempotent; recompaction folds in new files") {
    import spark.implicits._
    val lake = tmpDir("lake2")
    val hist = HistoryTable.compacted(spark, tmpDir("hist"))
    val part = s"$lake/T---X---1/date=2025-06-07"
    Seq((1.0, "a")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    val first = Compactor.runOnce(spark, lake, hist)
    assert(first.map(_.rows).sum === 1)
    // second sweep: nothing new → no work
    assert(Compactor.runOnce(spark, lake, hist).isEmpty)
    // new arrival → recompacted including previous compacted.parquet
    Seq((2.0, "b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    val third = Compactor.runOnce(spark, lake, hist)
    assert(third.map(_.rows).sum === 2)
    assert(spark.read.parquet(s"$lake/T---X---1").count() === 2)
  }

  test("targetFileBytes: a hot partition compacts to N>1 bounded files; rows reconcile; sweeps stay idempotent") {
    import spark.implicits._
    val lake = tmpDir("lakehot")
    val hist = HistoryTable.compacted(spark, tmpDir("histhot"))
    val part = s"$lake/T---HOT---1/date=2025-06-07"
    // ~2000 rows of incompressible-ish strings across several ingest files
    (0 until 4).foreach { i =>
      spark.range(i * 500, (i + 1) * 500)
        .selectExpr("CAST(id AS DOUBLE) AS v", "concat('id-', md5(CAST(id AS STRING))) AS id")
        .coalesce(1).write.mode("append").parquet(part)
    }
    val target = 16L * 1024 // tiny target to force a multi-file generation
    val stat = Compactor.runOnce(spark, lake, hist, targetFileBytes = target)
    assert(stat.map(_.rows).sum === 2000)
    val files = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString.split('/').last)
    assert(files.length > 1, s"expected a multi-file generation, got ${files.toSeq}")
    assert(files.forall(n => n.startsWith("compacted-g")), files.toSeq.toString)
    // footer row counts reconcile with the readback
    val footerRows = files.map(n =>
      graft.sources.ParquetMeta.read(spark, s"$part/$n").rows).sum
    assert(footerRows === 2000)
    assert(spark.read.parquet(s"$lake/T---HOT---1").count() === 2000)
    // idempotency: the generation files are not candidates, so a second
    // sweep is a no-op (no endless re-dirtying from changing gen names)
    assert(Compactor.runOnce(spark, lake, hist, targetFileBytes = target).isEmpty)
    // a late arrival folds the WHOLE previous generation into the next one
    Seq((9e9, "late")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    val again = Compactor.runOnce(spark, lake, hist, targetFileBytes = target)
    assert(again.map(_.rows).sum === 2001)
    assert(spark.read.parquet(s"$lake/T---HOT---1").count() === 2001)
    val gen2 = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString.split('/').last)
    assert(gen2.forall(_.startsWith("compacted-g")))
    // below the threshold the single-file reference contract is untouched
    val small = s"$lake/T---COLD---1/date=2025-06-07"
    Seq((1.0, "x")).toDF("v", "id").coalesce(1).write.mode("append").parquet(small)
    Compactor.runOnce(spark, lake, hist, targetFileBytes = 1L << 30)
    val coldFiles = Files.list(Paths.get(small)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString.split('/').last)
    assert(coldFiles.toSeq === Seq("compacted.parquet"))
  }

  test("targetFileBytes: crash mid-publish of a multi-file generation is repaired without loss") {
    import spark.implicits._
    val lake = tmpDir("lakehotcrash")
    val part = s"$lake/T---HC---1/date=2025-06-07"
    spark.range(0, 1000)
      .selectExpr("CAST(id AS DOUBLE) AS v", "concat('id-', md5(CAST(id AS STRING))) AS id")
      .coalesce(1).write.mode("append").parquet(part)
    // simulate the crash window: merge staged as hidden gen files +
    // manifest written, but deletes/promotes never ran
    val input = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    assert(input.length === 1)
    spark.read.parquet(part).repartition(2).write.parquet(s"$part/.crash_stage")
    val staged = Files.list(Paths.get(s"$part/.crash_stage"))
      .filter(_.toString.endsWith(".parquet")).toArray.map(_.toString).sorted
    assert(staged.length === 2)
    staged.zipWithIndex.foreach { case (s, i) =>
      Files.move(Paths.get(s),
        Paths.get(f"$part/.compact_new.compacted-g99-$i%05d.parquet"))
    }
    Files.writeString(Paths.get(s"$part/.compact_manifest"),
      new java.io.File(input.head).getName)
    // next touch must finish the deletes and promote BOTH hidden files
    val stat = Compactor.compactPartition(spark, lake, "T---HC---1", "date=2025-06-07")
    assert(stat.isEmpty) // recovery left nothing to compact
    val files = Files.list(Paths.get(part)).filter(_.toString.endsWith(".parquet"))
      .toArray.map(_.toString.split('/').last).sorted
    assert(files.toSeq === Seq("compacted-g99-00000.parquet", "compacted-g99-00001.parquet"))
    assert(spark.read.parquet(s"$lake/T---HC---1").count() === 1000) // no loss, no dup
  }

  test("generation ids are structurally unique, even within one millisecond") {
    // the crash-recovery invariant ("a new generation never collides with
    // the manifest-listed old one") must hold under same-millis compactions
    // and clock step-back — a wall-clock-only id doesn't guarantee that
    val gens = (1 to 1000).map(_ => Compactor.nextGen())
    assert(gens.distinct.size === gens.size)
  }
}
