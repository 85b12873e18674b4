package graft.sources

import java.util.UUID
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Append-only parquet-backed history/dedup table, generic over row shape —
  * the reference's `TableHistory` (/root/reference/src/history/
  * table_history.rs:48-186): `add` appends one small file per event,
  * `keys` lists the seen key column, `vacuum` consolidates the small files
  * into one and deletes them (keys must survive re-open:
  * table_history.rs:188-275), and the idempotency check is a set
  * difference against the seen keys, as the reference checks its
  * in-memory HashSet (table_history.rs:52,66-92,130-133).
  *
  * Every add is written on the driver through parquet-hadoop with Spark's
  * own `ParquetWriteSupport` (the same physical schema, INT96 timestamps
  * and Spark schema footer key as a Spark write), and the vacuum is the
  * lake's one merge ([[ParquetMerge]]) run on the driver: neither starts
  * a Spark job, at any size. Up to [[HistoryTable.DriverKeyLimit]] rows of
  * history the gate runs on the driver too; above it the gate is a
  * shuffle anti-join. Every write lands under a hidden temp name and is
  * renamed into place, so a torn write is never listed, and the temp name
  * is deleted when the write fails. */
final class HistoryTable(spark: SparkSession, dir: String, keyCol: String) {
  import HistoryTable._

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private lazy val merge = new ParquetMerge(ParquetRowWriter(spark))
  private val key = StructType(Seq(StructField(keyCol, StringType)))

  /** The history's visible parquet files in path order — one directory
    * listing. Hidden (`.`) and marker (`_`) names are skipped, as Spark's
    * listing skips them. */
  private[sources] def files(): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(s => ParquetMeta.visible(s.getPath.getName)).sortBy(_.getPath.toString).toSeq
  }

  /** Append one event file (like `add()` at table_history.rs:106-134 —
    * one file per event, vacuumed later), written on the driver with no
    * Spark job. `rows` must be driver rows: a frame that plans to a local
    * relation, as `Seq(...).toDF` plus literal columns does. Any other
    * frame is refused. */
  def add(rows: DataFrame): Unit = rows.queryExecution.optimizedPlan match {
    case local: LocalRelation =>
      publish(new Path(dir, s"${UUID.randomUUID()}.parquet")) { tmp =>
        ParquetRowWriter(spark).write(tmp, local.schema, local.data.iterator)
      }
    case plan => throw new IllegalArgumentException(
      s"HistoryTable.add writes driver rows (a local relation), not a ${plan.nodeName} plan")
  }

  /** The seen keys, as one driver set. Refused above
    * [[DriverKeyLimit]] rows of history, which the driver must not hold. */
  def keys(): Set[String] = driverKeys(files(), DriverKeyLimit).getOrElse(
    throw new IllegalStateException(s"$dir holds more than $DriverKeyLimit rows"))

  /** Candidates whose key has NOT been seen, in input order — the
    * idempotent-work filter (reference main.rs:177-179,248-250). Up to
    * the bound: one directory listing, a read of each file's key column
    * and a set difference, with no Spark job. Above it: a shuffle
    * left-anti join of the candidates against the raw key column (two
    * jobs or more), so a huge history never has to fit in driver memory. */
  def filterNew(candidates: Seq[String]): Seq[String] = filterNew(candidates, DriverKeyLimit)

  private[sources] def filterNew(candidates: Seq[String], bound: Long): Seq[String] = {
    val listed = if (candidates.isEmpty) Seq.empty else files()
    if (listed.isEmpty) candidates
    else driverKeys(listed, bound) match {
      case Some(seen) => candidates.filterNot(seen)
      case None =>
        import spark.implicits._
        val k = spark.read.schema(key).parquet(listed.map(_.getPath.toString): _*)
        val cands = candidates.distinct.toDF("candidate")
        val fresh = cands.join(k, cands("candidate") === k(keyCol), "left_anti")
          .as[String].collect().toSet
        candidates.filter(fresh)
    }
  }

  /** The non-null keys of `listed`, reading only the key column of one
    * file at a time; None as soon as the rows read so far count more than
    * `bound`. */
  private def driverKeys(listed: Seq[FileStatus], bound: Long): Option[Set[String]] = {
    val keys = Set.newBuilder[String]
    var rows = 0L
    val fits = listed.forall(s => merge.read(s.getPath, key)(_.forall { r =>
      rows += 1
      if (rows <= bound && !r.isNullAt(0)) keys += r.getUTF8String(0).toString
      rows <= bound
    }))
    if (fits) Some(keys.result()) else None
  }

  /** Consolidate the history's files into one `consolidated-<n>.parquet`
    * and delete them (table_history.rs:143-185). Safe to call
    * repeatedly. */
  def vacuum(): Unit = consolidate(files())

  /** Consolidate exactly `inputs`: a file added after they were listed is
    * neither rewritten nor deleted, so its keys survive to the next
    * vacuum. The inputs merge on the driver ([[ParquetMerge]]), with no
    * Spark job, under the union of their schemas: each column once, typed
    * as the first file that has it (a later file's other type is cast to
    * it), in first-seen order, so a column only some files carry is null
    * in the others. */
  private[sources] def consolidate(inputs: Seq[FileStatus]): Unit =
    if (inputs.length > 1) {
      val paths = inputs.map(_.getPath)
      publish(new Path(dir, s"consolidated-${System.currentTimeMillis()}.parquet")) { tmp =>
        merge(ParquetMerge.plan(spark, paths, tmp)(s => StructType(s.flatMap(_.fields).distinctBy(_.name))))
      }
      // publish FIRST, then delete inputs: a crash in between leaves
      // duplicate keys (harmless — the gate is a set difference) instead
      // of losing the whole history (keys must survive re-open,
      // table_history.rs:188-275)
      paths.foreach(p => fs.delete(p, false))
    }

  /** Publish as `dst` the parquet file that `write` makes at a hidden
    * temp path. The temp path is deleted when the write fails. */
  private[sources] def publish(dst: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    try { write(tmp); if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"rename $tmp -> $dst failed") }
    finally fs.delete(tmp, false)
  }
}

object HistoryTable {
  /** The three concrete histories of the reference (downloaded.rs /
    * processed.rs / compacted.rs), keyed by filename/path. */
  def downloaded(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/downloaded", "filename")
  def processed(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/processed", "filename")
  def compacted(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/compacted", "path")

  /** At most this many rows of history (one key per row) are gated on
    * the driver. A driver key set costs about 75 bytes plus the key's
    * length per key: 127, 175 and 205 bytes for 55-, 100- and
    * 130-character keys (heap after full GCs around a `Set[String]` of
    * 0.2 M and 1 M keys, JDK 17, G1), so 250,000 path keys take about
    * 45-50 MB while a gate runs. Above it the gate runs in Spark instead of
    * filling the driver. The vacuum streams, so this bound does not
    * govern it. */
  private[sources] val DriverKeyLimit = 250000L
}
