package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.sources.ParquetMeta

/** The idempotent per-batch commit shared by the micro-batch ingest
  * loops ([[CorpusStream]] minhash-gated, [[SemanticCorpusStream]]
  * embedding-gated, [[SubstringStream]] substring-gated, [[MediaStream]]
  * modality-routed). Each loop states only what a tick computes and
  * which directories it publishes to; [[tick]] owns the protocol.
  *
  * == Delivery: exactly-once at batch granularity ==
  *
  * foreachBatch is at-least-once, and a tick writes several tables (a
  * corpus plus its gating index, sketch partials, modality partitions)
  * — so a naive append leaves a crashed-and-replayed batch
  * half-committed (docs in the corpus invisible to the index, or
  * re-appended twice). [[tick]] instead commits idempotently on the
  * foreachBatch `batchId`:
  *
  *  - every batch's files publish under deterministic batch-prefixed
  *    names (`batch<id>-part-…`), staged in a hidden `_tmp` dir first
  *    ([[publish]]);
  *  - a replay of a FULLY committed batch (its marker file under
  *    `<markerDir>/_graft_commits/` exists) is skipped outright;
  *  - a replay of a PARTIALLY published batch first deletes that batch's
  *    files from EVERY table the tick publishes to, rolling them back to
  *    the pre-batch state, before the tick recomputes anything —
  *    critical for the gated loops: without the rollback-first order,
  *    the batch's own orphaned index rows would flag its docs as dups
  *    and the docs would be lost. The tick bodies are deterministic, so
  *    the republish is byte-equivalent;
  *  - the commit marker is a single atomic file create, written last
  *    and only when the body returned normally.
  *
  * Remaining window (documented, not hidden): a concurrent reader
  * between two publishes of one tick can see a doc in the corpus whose
  * index row is not yet published — bounded by one tick and healed by
  * the commit; the writer side is single-daemon by contract. */
private[streaming] object BatchCommit {

  def commitMarker(markerDir: String, batchId: Long): Path =
    new Path(new Path(markerDir, "_graft_commits"), s"batch-$batchId")

  /** One exactly-once tick of batch `batchId`: returns 0 for a committed
    * replay; otherwise rolls back the batch's files in every dir of
    * `dirs`, runs `body` with a publish function bound to this batch,
    * and commits the marker under `markerDir` once `body` returns.
    * `body` returns the kept count, which the tick returns; it must
    * publish only to dirs in `dirs`, or a replay could not roll them back. */
  def tick(conf: Configuration, markerDir: String, batchId: Long,
      dirs: Seq[String])(body: ((DataFrame, String) => Unit) => Long): Long = {
    val marker = commitMarker(markerDir, batchId)
    val fs = marker.getFileSystem(conf)
    if (fs.exists(marker)) return 0L // committed replay
    dirs.foreach(rollback(conf, _, batchId))
    val n = body((df, dir) => publish(conf, df, dir, batchId))
    fs.mkdirs(marker.getParent)
    fs.createNewFile(marker) // atomic create = the commit point
    n
  }

  /** Run `each` on every micro-batch of `df` with its batch id. */
  def start(df: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(each)
      .start()

  /** The published rows of `dir`, or None when it holds no visible
    * parquet file ([[ParquetMeta.visible]]: staging dirs `_tmp_batch_*`
    * are not) — missing, never published to, or emptied by a rollback.
    * The files read under their first footer's schema
    * ([[ParquetMeta.sparkSchema]], as the Spark fallback of
    * [[graft.sources.HistoryTable]] reads), so a tick's index probe runs
    * no inference job and a first tick raises and logs nothing. */
  def readPublished(spark: SparkSession, dir: String): Option[DataFrame] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).map(_.getPath).filter(p => ParquetMeta.visible(p.getName)).sortBy(_.toString).toSeq
    files.headOption.map { first =>
      spark.read.schema(ParquetMeta.sparkSchema(spark, first.toString))
        .parquet(files.map(_.toString): _*)
    }
  }

  /** Delete any published files of `batchId` from `dir` (partial-publish
    * rollback) — batch-prefixed names make them identifiable. Resolves
    * its own FileSystem from `dir`: target dirs may live on different
    * schemes, and probing one dir through another's FS makes the
    * rollback a silent no-op (exists=false on the wrong FS). */
  def rollback(conf: Configuration, dir: String, batchId: Long): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d))
      fs.listStatus(d).filter(_.getPath.getName.startsWith(s"batch$batchId-"))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** Stage `df` under a hidden tmp dir, then move its part files into
    * `dir` under deterministic `batch<id>-` names. Underscore-prefixed
    * staging dirs are invisible to parquet readers mid-write; the moves
    * land whole files, and a replay deletes stale names first
    * ([[rollback]]), so readers never see a duplicate. */
  def publish(conf: Configuration, df: DataFrame, dir: String,
      batchId: Long): Unit = {
    val fs = new Path(dir).getFileSystem(conf) // per-dir FS, same reason as rollback
    val tmp = new Path(dir, s"_tmp_batch_$batchId")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { s =>
        val dest = new Path(dir, s"batch$batchId-${s.getPath.getName}")
        // rename failure must fail the TICK, not silently drop part files
        // from a batch the caller is about to mark committed — throwing
        // here leaves no marker, so the replay path rolls the partial
        // publish back and retries the whole batch
        if (!fs.rename(s.getPath, dest))
          throw new java.io.IOException(
            s"batch $batchId publish: rename ${s.getPath} -> $dest failed")
      }
    fs.delete(tmp, true)
  }
}
