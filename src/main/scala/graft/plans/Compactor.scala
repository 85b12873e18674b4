package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.sources.{HistoryTable, ParquetMeta}

/** Partition compactor: merge the many small per-ingest parquet files of
  * each `<table>/date=D/` partition into compacted output, with
  * schema evolution, atomic publication and history bookkeeping —
  * the reference's compactor binary
  * (/root/reference/src/bin/compactor.rs:33-111,584-792).
  *
  * Scale: each partition is one independent unit of work; on a cluster
  * the per-partition jobs are scheduled concurrently (the reference used a
  * rayon scope + per-partition mutex; Spark's scheduler + disjoint output
  * paths make the lock unnecessary). Below `targetFileBytes` a
  * partition rewrites through `coalesce(1)` into a single
  * `compacted.parquet` (the reference's one-file contract); above it
  * the rewrite fans out to `ceil(bytes / target)` bounded files — the
  * hot-partition escape hatch a 100 TB lake needs, since no sane
  * single file or single write task should absorb an unbounded
  * partition.
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

  private val NewFile = ".compact_new.parquet"
  private val NewPrefix = ".compact_new"
  private val Manifest = ".compact_manifest"

  // Generation ids must not repeat: two compactions of the same
  // partition within one millisecond (fast tests, clock step-back) must
  // not reuse names, or the recovery invariant "a new generation never
  // collides with the manifest-listed old one" silently weakens. millis
  // gives cross-process ordering for humans reading the lake; the
  // counter gives STRUCTURAL uniqueness within a process regardless of
  // the clock; the per-process random nonce covers the restart case
  // (counter reset + clock step-back re-producing an old id) — that
  // last layer is probabilistic (2^-64 per colliding pair), not
  // structural, which is the honest limit without lake-side state.
  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val procNonce: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
  private[plans] def nextGen(): String =
    s"${System.currentTimeMillis()}x${procNonce}x${genCounter.incrementAndGet()}"

  /** A compacted OUTPUT file: the single-file `compacted.parquet`
    * (reference parity) or one of a bounded multi-file generation
    * `compacted-g<gen>-<i>.parquet` ([[compactPartition]]'s
    * `targetFileBytes` escape hatch). */
  private def isCompactedName(n: String): Boolean =
    n == "compacted.parquet" || (n.startsWith("compacted-") && n.endsWith(".parquet"))

  /** Final name of a hidden staged file: `.compact_new.parquet` →
    * `compacted.parquet`; `.compact_new.compacted-g…-00001.parquet` →
    * `compacted-g…-00001.parquet`. */
  private def promotedName(hidden: String): String =
    if (hidden == NewFile) "compacted.parquet"
    else hidden.stripPrefix(NewPrefix + ".")

  /** Crash recovery for [[compactPartition]]'s publish protocol. States:
    *  - hidden `.compact_new*` files without manifest: merge results
    *    existed but nothing was deleted yet → discard them (inputs are
    *    intact);
    *  - manifest present: the files it lists were merged into the new
    *    files → finish the deletes; promote any still-hidden new files
    *    (when the manifest lists a compacted name but no hidden file
    *    remains, the listed name IS the already-promoted merged data —
    *    never delete it then; multi-file generations are immune by
    *    construction: their names are generation-unique, so a new
    *    generation never collides with the listed old one). */
  private def recover(f: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val manP = new Path(dir, Manifest)
    val dirP = new Path(dir)
    def hiddenNew(): Seq[Path] =
      if (!f.exists(dirP)) Seq.empty
      else f.listStatus(dirP).map(_.getPath)
        .filter(_.getName.startsWith(NewPrefix)).toSeq.sortBy(_.getName)
    if (f.exists(manP)) {
      val in = f.open(manP)
      val listed = scala.io.Source.fromInputStream(in).getLines().toVector
      in.close()
      val news = hiddenNew()
      val newExists = news.nonEmpty
      listed.foreach { name =>
        if (newExists || !isCompactedName(name)) {
          val p = new Path(dir, name)
          if (f.exists(p)) f.delete(p, false)
        }
      }
      news.foreach(h => f.rename(h, new Path(dir, promotedName(h.getName))))
      f.delete(manP, false)
    } else hiddenNew().foreach(h => f.delete(h, false))
  }

  /** Compact one partition dir: read every non-compacted parquet file
    * under the widened schema, rewrite as compacted output, delete
    * inputs. Below `targetFileBytes` of input the output is a single
    * `compacted.parquet` (the reference's one-file-per-partition
    * contract, compactor.rs:644-755); above it the rewrite targets
    * `ceil(inputBytes / targetFileBytes)` bounded files named
    * `compacted-g<gen>-<i>.parquet` — at 100 TB a hot partition must
    * not funnel through one task or one file, and generation-unique
    * names keep the crash protocol collision-free. Publish protocol
    * (crash-safe refinement of the reference's tmp+rename): merge →
    * hidden new files → manifest of merged names → deletes → promote →
    * drop manifest; a crash at any point is repaired by [[recover]] on
    * the next sweep. The rewrite is the only Spark job (two for a
    * multi-file generation, whose repartition is a shuffle): input
    * schemas and the output row count come from footers read on the
    * driver. Returns None if there was nothing to do. */
  def compactPartition(spark: SparkSession, lakeRoot: String, table: String,
      partition: String, compression: String = "zstd",
      targetFileBytes: Long = Long.MaxValue): Option[Stat] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val dir = s"$lakeRoot/$table/$partition"
    val f = fs(spark, dir)
    recover(f, dir)
    val statuses = f.listStatus(new Path(dir)).filter(s => ParquetMeta.visible(s.getPath.getName))
    val inputs = statuses.filter(s => !isCompactedName(s.getPath.getName)).map(_.getPath)
    val existingCompacted = statuses.filter(s => isCompactedName(s.getPath.getName)).map(_.getPath)
    if (inputs.isEmpty) return None
    val sources = (inputs ++ existingCompacted).map(_.toString)
    val totalBytes = statuses.map(_.getLen).sum
    val nFiles =
      if (targetFileBytes == Long.MaxValue) 1
      else math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val merged = SchemaEvolution.readWidened(spark, sources.toIndexedSeq)
    val tmp = new Path(dir, ".compact_tmp")
    // single-file: coalesce (no shuffle); multi-file: repartition for
    // even file sizes (a compactor is rewrite-bound; the shuffle is the
    // price of bounded, balanced output files)
    (if (nFiles == 1) merged.coalesce(1) else merged.repartition(nFiles))
      .write.mode("overwrite")
      .option("compression", compression).parquet(tmp.toString)
    val partsOut = f.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val gen = nextGen()
    val hidden = partsOut.zipWithIndex.map { case (p, i) =>
      val hn =
        if (partsOut.length == 1) NewFile
        else f"$NewPrefix.compacted-g$gen-$i%05d.parquet"
      val hp = new Path(dir, hn)
      f.rename(p, hp)
      hp
    }
    val rows = hidden.map(h => ParquetMeta.read(spark, h.toString).rows).sum // footers, not a re-scan
    val manifest = (inputs ++ existingCompacted).map(_.getName)
    val out = f.create(new Path(dir, Manifest), true)
    out.write(manifest.mkString("\n").getBytes("UTF-8")); out.close()
    inputs.foreach(p => f.delete(p, false))
    existingCompacted.foreach(p => if (f.exists(p)) f.delete(p, false))
    hidden.foreach(h => f.rename(h, new Path(dir, promotedName(h.getName))))
    f.delete(new Path(dir, Manifest), false)
    f.delete(tmp, true)
    // sweep markers and stray checksums, but never a hidden parquet file
    // (or its checksum): that is another writer's staged output
    f.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => (n.startsWith("_") || n.startsWith(".")) && !n.startsWith(NewPrefix) &&
        n != Manifest && !n.contains(".parquet"))
      .foreach(n => f.delete(new Path(dir, n), true))
    Some(Stat(table, partition, inputs.length, rows))
  }

  /** One compaction sweep: for every partition containing files not yet in
    * the `compacted` history, rewrite and record. The history gate is the
    * idempotency check (compactor.rs:597-641).
    *
    * Spark jobs: one rewrite per dirty partition ([[compactPartition]]),
    * nothing else. On the driver: the partition listings, the history
    * gate of the candidate paths and the history add
    * ([[HistoryTable.filterNew]], [[HistoryTable.add]]), the
    * dirty-partition set and every footer read. */
  def runOnce(spark: SparkSession, lakeRoot: String, history: HistoryTable,
      targetFileBytes: Long = Long.MaxValue): Seq[Stat] = {
    import spark.implicits._
    val parts = discoverPartitions(spark, lakeRoot)
    val f = fs(spark, lakeRoot)
    val candidates = parts.flatMap { case (t, p) =>
      f.listStatus(new Path(s"$lakeRoot/$t/$p")).map(_.getPath)
        // compacted OUTPUTS (single-file or multi-file generation) are
        // never candidates: generation names change on every rewrite, so
        // treating them as fresh ingest would re-dirty the partition on
        // every sweep forever
        .filter(x => ParquetMeta.visible(x.getName) && !isCompactedName(x.getName))
        .map(x => (t, p, s"$t/$p/${x.getName}"))
    }
    val freshSet = history.filterNew(candidates.map(_._3)).toSet
    val fresh = candidates.filter(c => freshSet.contains(c._3))
    val dirty = fresh.map { case (t, p, _) => (t, p) }.distinct
    val freshPaths = fresh.map(_._3)
    // fan the per-partition rewrites out concurrently (the reference's
    // rayon scope, compactor.rs:76-94): output dirs are disjoint and the
    // manifest protocol is per-dir, so no lock is needed. Each job is a
    // single coalesce(1) task — concurrency is what keeps >1 core busy.
    val stats = graft.Par.mapBounded(dirty.toIndexedSeq) { case (t, p) =>
      compactPartition(spark, lakeRoot, t, p, targetFileBytes = targetFileBytes)
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
      onSweep: Seq[Stat] => Unit = _ => (),
      targetFileBytes: Long = Long.MaxValue): Seq[Stat] = {
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
            val stats = runOnce(spark, lakeRoot, history, targetFileBytes)
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
