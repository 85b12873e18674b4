package graft.plans

import graft.SparkSpec
import graft.sources.{HistoryTable, ParquetMeta}
import java.io.OutputStream
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

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

  /** A lake on the [[PublishFailFs]] scheme whose one partition holds a
    * compacted.parquet and two later files of a wider schema; returns the
    * lake, the partition dir and its rows under the widened schema. */
  private def dirtyPartition(name: String): (String, String, Seq[String]) = {
    import spark.implicits._
    val lake = s"publishfail://${tmpDir(name)}"
    val part = s"$lake/T---C---1/date=2025-06-07"
    Seq(("1.0", "a"), ("2.0", "b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
    Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07")
    Seq((3.0, "c", 1L)).toDF("v", "id", "n").coalesce(1).write.mode("append").parquet(part)
    Seq((4.0, "d", 2L)).toDF("v", "id", "n").coalesce(1).write.mode("append").parquet(part)
    (lake, part, rowsOf(part))
  }

  private def rowsOf(part: String): Seq[String] = {
    val files = new Path(part).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(part)).map(_.getPath).filter(p => ParquetMeta.visible(p.getName))
    SchemaEvolution.readWidened(spark, files.map(_.toString).toIndexedSeq).collect().map(_.toString).sorted.toSeq
  }

  /** Every name in the partition dir but checksums and markers. */
  private def namesIn(part: String): Seq[String] =
    Files.list(Paths.get(new URI(part).getPath)).toArray.map(_.toString.split('/').last)
      .filter(n => !n.endsWith(".crc") && !n.startsWith("_")).sorted.toSeq

  test("crash recovery: interrupted publish is repaired without loss or duplication") {
    spark.sparkContext.hadoopConfiguration.set("fs.publishfail.impl", classOf[PublishFailFs].getName)
    try {
      val (lake, part, expected) = dirtyPartition("crash_clean")
      PublishFailFs.failNth(0)
      assert(Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07").map(_.rows) === Some(4L))
      val steps = PublishFailFs.steps
      // the manifest create, three deletes (two inputs and the old
      // compacted.parquet), the promote rename and the manifest delete
      assert(steps.length === 6, steps)
      assert(namesIn(part) === Seq("compacted.parquet") && rowsOf(part) === expected)
      for (k <- 1 to steps.length) {
        val (lake, part, expected) = dirtyPartition(s"crash_$k")
        PublishFailFs.failNth(k)
        intercept[java.io.IOException](Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07"))
        PublishFailFs.failNth(0)
        Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07")
        assert(namesIn(part) === Seq("compacted.parquet"), s"crash at ${steps(k - 1)}")
        assert(rowsOf(part) === expected, s"crash at ${steps(k - 1)}")
      }
    } finally PublishFailFs.failNth(0)
  }

  test("publish: a failed promote rename fails the sweep; the next sweep restores every row") {
    spark.sparkContext.hadoopConfiguration.set("fs.publishfail.impl", classOf[PublishFailFs].getName)
    import spark.implicits._
    val lake = s"publishfail://${tmpDir("promotefail")}"
    val hist = HistoryTable.compacted(spark, tmpDir("promotefail_hist"))
    val part = s"$lake/T---P---1/date=2025-06-07"
    try {
      PublishFailFs.failNth(0)
      Seq((1.0, "a")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
      Seq((2.0, "b")).toDF("v", "id").coalesce(1).write.mode("append").parquet(part)
      PublishFailFs.failPromote()
      val failed = scala.util.Try(Compactor.runOnce(spark, lake, hist))
      PublishFailFs.failNth(0)
      Compactor.runOnce(spark, lake, hist)
      // the rows are checked first: they are what an unchecked rename loses
      assert(spark.read.parquet(part).count() === 2)
      assert(namesIn(part) === Seq("compacted.parquet"))
      assert(failed.isFailure, "a failed promote must fail the sweep")
    } finally PublishFailFs.failNth(0)
  }

  test("off the file scheme, a history add and the compaction manifest are created through the lake's file system") {
    spark.sparkContext.hadoopConfiguration.set("fs.publishfail.impl", classOf[PublishFailFs].getName)
    import spark.implicits._
    val (lake, part, expected) = dirtyPartition("seam")
    val histDir = s"publishfail://${tmpDir("seam_hist")}"
    try {
      PublishFailFs.failNth(0)
      Compactor.compactPartition(spark, lake, "T---C---1", "date=2025-06-07")
      HistoryTable.compacted(spark, histDir).add(Seq("T---C---1/date=2025-06-07/x.parquet").toDF("path"))
      val created = PublishFailFs.creations
      assert(created.exists(_.getName == ".compact_manifest") &&
        created.exists(p => p.getName.startsWith(".tmp-") && p.getParent.getName == "compacted"), created)
      assert(rowsOf(part) === expected)
      assert(HistoryTable.compacted(spark, histDir).keys() === Set("T---C---1/date=2025-06-07/x.parquet"))
    } finally PublishFailFs.failNth(0)
  }
}

/** Local file system that records every create and fails one step of the
  * compactor's publish: a create, delete or rename (by its destination) of
  * the manifest or of a visible parquet file directly in a `date=` dir.
  * The Spark committer's own calls, all under `.compact_tmp`, pass. A
  * failing delete or rename returns false; a failing create crashes
  * mid-write: the first line of the write lands, then the write throws. */
class PublishFailFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("publishfail:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!PublishFailFs.fails("create", f)) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val eol = b.indexWhere(_ == '\n', off)
        out.write(b, off, if (eol < 0 || eol >= off + len) len else eol + 1 - off)
        out.close()
        throw new java.io.IOException(s"crash while writing $f")
      }
    }, null)
  }
  override def delete(p: Path, recursive: Boolean): Boolean =
    !PublishFailFs.fails("delete", p) && super.delete(p, recursive)
  override def rename(src: Path, dst: Path): Boolean =
    !PublishFailFs.fails("rename", dst) && super.rename(src, dst)
}

object PublishFailFs {
  private var failAt = 0
  private var failRenames = false
  private val seen = scala.collection.mutable.ArrayBuffer.empty[String]
  private val creates = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** Count publish steps from now and fail the `k`-th (0: none). */
  def failNth(k: Int): Unit = synchronized { failAt = k; failRenames = false; seen.clear(); creates.clear() }

  /** Every file created since the last reset, counted or not. */
  def creations: Seq[Path] = synchronized(creates.toList)

  /** Fail every counted rename (the promote) from now on. */
  def failPromote(): Unit = synchronized { failNth(0); failRenames = true }

  /** The publish steps counted since the last reset, as `op name`. */
  def steps: Seq[String] = synchronized(seen.toList)

  private def fails(op: String, p: Path): Boolean = synchronized {
    if (op == "create") creates += p
    val name = p.getName
    val counted = Option(p.getParent).exists(_.getName.startsWith("date=")) &&
      (ParquetMeta.visible(name) || name == ".compact_manifest")
    if (counted) seen += s"$op $name"
    counted && (seen.length == failAt || (failRenames && op == "rename"))
  }
}
