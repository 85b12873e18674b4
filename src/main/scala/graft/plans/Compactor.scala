package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.{HistoryTable, ParquetMeta}

/** Partition compactor: merge the many small per-ingest parquet files of
  * each `<table>/date=D/` partition into one `compacted.parquet`, with
  * schema evolution, atomic publication and history bookkeeping —
  * the reference's compactor binary
  * (/root/reference/src/bin/compactor.rs:33-111,584-792).
  *
  * Scale: each partition is one independent unit of work; on a cluster
  * the per-partition jobs are scheduled concurrently (the reference used a
  * rayon scope + per-partition mutex; Spark's scheduler + disjoint output
  * paths make the lock unnecessary). A partition rewrites through
  * `coalesce(1)`: its one write task streams the rows and buffers one
  * row group, so a hot partition costs one task's time, not memory.
  */
object Compactor {

  final case class Stat(table: String, partition: String, inputFiles: Int, rows: Long)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All `<table>/date=...` partition dirs under the lake root. */
  def discoverPartitions(spark: SparkSession, lakeRoot: String): Seq[(String, String)] = {
    val f = fs(spark, lakeRoot)
    val root = new Path(lakeRoot)
    if (!f.exists(root)) return Seq.empty
    for {
      t <- f.listStatus(root).toSeq if t.isDirectory
      p <- f.listStatus(t.getPath).toSeq
      if p.isDirectory && p.getPath.getName.startsWith("date=")
    } yield (t.getPath.getName, p.getPath.getName)
  }

  private val Compacted = "compacted.parquet"
  private val Tmp = ".compact_tmp"
  private val Manifest = ".compact_manifest"
  // last line of a complete manifest: a manifest cut short by a crash
  // mid-write lists too few inputs, and no input was deleted yet
  private val ManifestEnd = "#end"

  /** The merged file staged by the rewrite, while it is not promoted. */
  private def staged(f: FileSystem, dir: String): Option[Path] = {
    val tmp = new Path(dir, Tmp)
    if (!f.exists(tmp)) None
    else f.listStatus(tmp).map(_.getPath).find(p => ParquetMeta.visible(p.getName))
  }

  private def delete(f: FileSystem, p: Path, recursive: Boolean = false): Unit =
    if (f.exists(p) && !f.delete(p, recursive))
      throw new java.io.IOException(s"compaction publish: delete $p failed")

  private def promote(f: FileSystem, from: Path, dir: String): Unit =
    if (!f.rename(from, new Path(dir, Compacted)))
      throw new java.io.IOException(s"compaction publish: rename $from -> $dir/$Compacted failed")

  /** Crash recovery for [[compactPartition]]'s publish protocol. A
    * complete manifest lists the files merged into the staged file, so
    * the deletes are finished; the listed `compacted.parquet` is the old
    * one only while the staged file is still unpromoted (once promoted it
    * IS the merged data). Without a complete manifest nothing was deleted
    * yet and the staged file is dropped. Every failed step throws with the
    * manifest still on disk, so the next call resumes from it. */
  private def recover(f: FileSystem, dir: String): Unit = {
    val manP = new Path(dir, Manifest)
    if (f.exists(manP)) {
      val in = f.open(manP)
      val listed = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
      if (listed.lastOption.contains(ManifestEnd)) {
        val merged = staged(f, dir)
        listed.init.filter(n => n != Compacted || merged.isDefined)
          .foreach(n => delete(f, new Path(dir, n)))
        merged.foreach(promote(f, _, dir))
      }
      delete(f, manP)
    }
    delete(f, new Path(dir, Tmp), recursive = true)
  }

  /** Compact one partition dir: read every visible parquet file under
    * the widened schema and rewrite them as one `compacted.parquet` (the
    * reference's one-file-per-partition contract, compactor.rs:644-755).
    * Publish protocol (crash-safe refinement of the reference's
    * tmp+rename): merge into `.compact_tmp/` → manifest of the merged
    * names → deletes → rename of the staged file to `compacted.parquet`
    * → drop manifest and `.compact_tmp`; a crash or a failed step at any
    * point is repaired by [[recover]] on the next call. The rewrite is the
    * only Spark job: input schemas and the output row count come from
    * footers read on the driver. Returns None if there was nothing to
    * do. */
  def compactPartition(spark: SparkSession, lakeRoot: String, table: String,
      partition: String, compression: String = "zstd"): Option[Stat] = {
    val dir = s"$lakeRoot/$table/$partition"
    val f = fs(spark, dir)
    recover(f, dir)
    val visible = f.listStatus(new Path(dir)).map(_.getPath).filter(p => ParquetMeta.visible(p.getName))
    val (existing, inputs) = visible.partition(_.getName == Compacted)
    if (inputs.isEmpty) return None
    val sources = inputs ++ existing
    SchemaEvolution.readWidened(spark, sources.map(_.toString).toIndexedSeq)
      .coalesce(1).write.mode("overwrite")
      .option("compression", compression).parquet(new Path(dir, Tmp).toString)
    val merged = staged(f, dir).getOrElse(
      throw new java.io.IOException(s"compaction of $dir staged no file"))
    val rows = ParquetMeta.read(spark, merged.toString).rows // footer, not a re-scan
    val out = ParquetMeta.outputFile(spark.sparkContext.hadoopConfiguration, new Path(dir, Manifest))
      .createOrOverwrite(0)
    try out.write((sources.map(_.getName) :+ ManifestEnd).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    sources.foreach(delete(f, _))
    promote(f, merged, dir)
    delete(f, new Path(dir, Manifest))
    delete(f, new Path(dir, Tmp), recursive = true)
    // sweep markers and stray checksums, but never a hidden parquet file
    // (or its checksum): that is another writer's staged output
    f.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => (n.startsWith("_") || n.startsWith(".")) && n != Manifest && !n.contains(".parquet"))
      .foreach(n => f.delete(new Path(dir, n), true))
    Some(Stat(table, partition, inputs.length, rows))
  }

  /** One compaction sweep: for every partition containing files not yet in
    * the `compacted` history, rewrite and record. The history gate is the
    * idempotency check (compactor.rs:597-641). A partition whose publish
    * was cut short (its manifest is on disk) is visited too, so
    * [[compactPartition]] finishes that publish even when no new file
    * arrives.
    *
    * Spark jobs: one rewrite per dirty partition ([[compactPartition]]),
    * nothing else. On the driver: the partition listings, the history
    * gate of the candidate paths and the history add
    * ([[HistoryTable.filterNew]], [[HistoryTable.add]]), the
    * dirty-partition set and every footer read. */
  def runOnce(spark: SparkSession, lakeRoot: String, history: HistoryTable): Seq[Stat] = {
    import spark.implicits._
    val f = fs(spark, lakeRoot)
    val listed = discoverPartitions(spark, lakeRoot).map { case (t, p) =>
      (t, p, f.listStatus(new Path(s"$lakeRoot/$t/$p")).map(_.getPath.getName).toSeq)
    }
    // compacted.parquet is never a candidate: it would re-dirty its
    // partition on every sweep
    val candidates = listed.flatMap { case (t, p, names) =>
      names.filter(n => ParquetMeta.visible(n) && n != Compacted).map(n => (t, p, s"$t/$p/$n"))
    }
    val freshSet = history.filterNew(candidates.map(_._3)).toSet
    val fresh = candidates.filter(c => freshSet.contains(c._3))
    val interrupted = listed.collect { case (t, p, names) if names.contains(Manifest) => (t, p) }
    val dirty = (fresh.map { case (t, p, _) => (t, p) } ++ interrupted).distinct
    val freshPaths = fresh.map(_._3)
    // fan the per-partition rewrites out concurrently (the reference's
    // rayon scope, compactor.rs:76-94): output dirs are disjoint and the
    // manifest protocol is per-dir, so no lock is needed. Each job is a
    // single coalesce(1) task — concurrency is what keeps >1 core busy.
    val stats = graft.Par.mapBounded(dirty.toIndexedSeq) { case (t, p) =>
      compactPartition(spark, lakeRoot, t, p)
    }
    if (freshPaths.nonEmpty) {
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      history.add(freshPaths.toIndexedSeq.toDF("path")
        .withColumn("compacted_at", lit(now)))
    }
    stats
  }

  /** Continuous compactor — the reference's compactor binary loop:
    * a compaction sweep every `intervalMillis` (5 min,
    * compactor.rs:108-110) and a history vacuum every
    * `vacuumIntervalMillis` (30 s, table_history.rs:95-103), on one
    * driver loop with graceful stop ([[graft.DaemonControl]]). A failed
    * sweep logs and the loop continues. Blocking; returns the stats of
    * completed sweeps (bounded by `maxSweeps`). */
  def runLoop(spark: SparkSession, lakeRoot: String, history: HistoryTable,
      intervalMillis: Long = 300000L, vacuumIntervalMillis: Long = 30000L,
      maxSweeps: Long = Long.MaxValue,
      control: graft.DaemonControl = new graft.DaemonControl,
      installShutdownHook: Boolean = true,
      onSweep: Seq[Stat] => Unit = _ => ()): Seq[Stat] = {
    control.runGuarded(installShutdownHook) {
      val out = scala.collection.mutable.ArrayBuffer.empty[Stat]
      var sweeps = 0L
      var nextCompact = System.currentTimeMillis()
      var nextVacuum = System.currentTimeMillis() + vacuumIntervalMillis
      var stopped = control.isStopped
      while (sweeps < maxSweeps && !stopped) {
        val t = System.currentTimeMillis()
        // each activity fails independently and always advances its own
        // deadline — a persistently failing vacuum must back off on its
        // cadence, not hot-spin, and must not consume compaction sweeps
        if (t >= nextVacuum) {
          nextVacuum = t + vacuumIntervalMillis
          try history.vacuum()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[compactor] vacuum failed: ${e.getMessage}") }
        }
        if (t >= nextCompact) {
          nextCompact = t + intervalMillis
          sweeps += 1
          try {
            val stats = runOnce(spark, lakeRoot, history)
            out ++= stats
            try onSweep(stats)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[compactor] onSweep callback failed: ${e.getMessage}") }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[compactor] sweep failed: ${e.getMessage}")
          }
        }
        val wait = math.min(nextCompact, nextVacuum) - System.currentTimeMillis()
        stopped =
          if (sweeps >= maxSweeps) control.isStopped
          else if (wait > 0) control.awaitOrStop(wait)
          else control.isStopped
      }
      out.toSeq
    }
  }
}
