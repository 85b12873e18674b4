package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileStatus, Path}

/** Append-only parquet-backed history/dedup table, generic over row shape —
  * the reference's `TableHistory` (/root/reference/src/history/
  * table_history.rs:48-186): `add` appends one small file per event,
  * `keys` lists the seen key column, `vacuum` consolidates the small files
  * into one and deletes them (keys must survive re-open:
  * table_history.rs:188-275), and idempotency checks are `left_anti`
  * joins instead of the reference's in-memory HashSet.
  */
final class HistoryTable(spark: SparkSession, dir: String, keyCol: String) {

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The history's parquet files in path order — one directory listing. */
  private[sources] def files(): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.toString).toSeq
  }

  /** Exactly `inputs`, read under the first one's footer schema — the
    * schema Spark infers for the directory, without its inference job. */
  private def read(inputs: Seq[Path]): DataFrame =
    spark.read.schema(ParquetMeta.sparkSchema(spark, inputs.head.toString))
      .parquet(inputs.map(_.toString): _*)

  /** Append one event row (single small parquet file, like `add()` at
    * table_history.rs:106-134 — one file per event, vacuumed later). */
  def add(row: DataFrame): Unit =
    row.coalesce(1).write.mode("append").parquet(dir)

  /** All rows (empty frame with no schema knowledge → caller handles). */
  def all(): Option[DataFrame] = {
    val listed = files()
    if (listed.isEmpty) None else Some(read(listed.map(_.getPath)))
  }

  /** Distinct seen keys. */
  def keys(): Option[DataFrame] =
    all().map(_.select(keyCol).distinct())

  /** Above this on-disk size the anti-join flips from broadcast to
    * shuffle. 64 MB of parquet ≫ what a driver-broadcast key set should
    * ever be (keys are file names; this history is millions of rows
    * before the limit trips). */
  private val BroadcastByteLimit = 64L * 1024 * 1024

  /** Candidates whose `candKey` has NOT been seen — the idempotent-work
    * filter (reference main.rs:177-179,248-250). On the driver: one
    * directory listing and one footer read; the history's own schema
    * inference job is never run. In Spark: a left-anti join against the
    * raw key column (duplicate keys cannot change an anti-join's result,
    * so no `distinct` shuffle), broadcast while the listed files total at
    * most 64 MB (file-name cardinality — the normal case); a huge history
    * falls back to a shuffle anti-join instead of OOMing the driver. No
    * job runs until the result is consumed. */
  def filterNew(candidates: DataFrame, candKey: String): DataFrame = {
    val listed = files()
    if (listed.isEmpty) candidates
    else {
      val k = read(listed.map(_.getPath)).select(keyCol)
      val side = if (listed.map(_.getLen).sum <= BroadcastByteLimit) broadcast(k) else k
      candidates.join(side, candidates(candKey) === k(keyCol), "left_anti")
    }
  }

  /** Consolidate the history's files into one `consolidated-<n>.parquet`
    * and delete them (table_history.rs:143-185). One Spark job — the
    * rewrite of the listed files; the listing, footer read, rename and
    * deletes run on the driver. Safe to call repeatedly. */
  def vacuum(): Unit = consolidate(files().map(_.getPath))

  /** Consolidate exactly `inputs`: a file added after they were listed is
    * neither rewritten nor deleted, so its keys survive to the next
    * vacuum. */
  private[sources] def consolidate(inputs: Seq[Path]): Unit = if (inputs.length > 1) {
    val tmp = new Path(dir, ".vacuum_tmp")
    // the write completes before any input is deleted, so the inputs
    // need no cache to outlive the deletes
    read(inputs).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new Path(dir, s"consolidated-${System.currentTimeMillis()}.parquet")
    // publish FIRST, then delete inputs: a crash in between leaves
    // duplicate keys (harmless — filterNew is an anti-join) instead of
    // losing the whole history (keys must survive re-open,
    // table_history.rs:188-275)
    fs.rename(part, dst)
    inputs.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
    // clean write-metadata clutter
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .foreach(p => fs.delete(p, true))
  }
}

object HistoryTable {
  /** The three concrete histories of the reference (downloaded.rs /
    * processed.rs / compacted.rs), keyed by filename/path. */
  def downloaded(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/downloaded", "filename")
  def processed(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/processed", "filename")
  def compacted(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/compacted", "path")
}
