package graft.sources

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, Type, Types}
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

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
  * and Spark schema footer key as a Spark write). Up to
  * [[HistoryTable.DriverKeyLimit]] rows of history the gate and the vacuum
  * run on the driver too, so no call starts a Spark job; above it the gate
  * is a shuffle anti-join and the vacuum a Spark rewrite. Every write lands
  * under a hidden temp name and is renamed into place, so a torn write is
  * never listed, and the temp name is deleted when the write fails. */
final class HistoryTable(spark: SparkSession, dir: String, keyCol: String) {
  import HistoryTable._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(dir).getFileSystem(conf)

  /** The history's visible parquet files in path order — one directory
    * listing. Hidden (`.`) and marker (`_`) names are skipped, as Spark's
    * listing skips them. */
  private[sources] def files(): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(s => ParquetMeta.visible(s.getPath.getName)).sortBy(_.getPath.toString).toSeq
  }

  /** Exactly `inputs`, read under the union of their footer schemas:
    * each column once, typed as the first file that has it, in first-seen
    * order, so a column only some files carry reads as null in the others.
    * No inference job. */
  private def read(inputs: Seq[Path]): DataFrame = {
    val fields = inputs.flatMap(p => ParquetMeta.sparkSchema(spark, p.toString).fields)
    spark.read.schema(StructType(fields.distinctBy(_.name))).parquet(inputs.map(_.toString): _*)
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
        tmp
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
        val k = read(listed.map(_.getPath)).select(keyCol)
        val cands = candidates.distinct.toDF("candidate")
        val fresh = cands.join(k, cands("candidate") === k(keyCol), "left_anti")
          .as[String].collect().toSet
        candidates.filter(fresh)
    }
  }

  /** The non-null keys of `listed`, reading only the key column of one
    * file at a time; None as soon as the footers read so far count more
    * than `bound` rows. */
  private def driverKeys(listed: Seq[FileStatus], bound: Long): Option[Set[String]] = {
    val keys = Set.newBuilder[String]
    var rows = 0L
    val fits = listed.forall { s =>
      withRecords(conf, s.getPath, f => new MessageType(f.getName, f.getType(f.getFieldIndex(keyCol)))) {
        (_, count, records) =>
          rows += count
          if (rows <= bound) records.foreach(g => if (g.getFieldRepetitionCount(0) > 0) keys += g.getString(0, 0))
          rows <= bound
      }
    }
    if (fits) Some(keys.result()) else None
  }

  /** Consolidate the history's files into one `consolidated-<n>.parquet`
    * and delete them (table_history.rs:143-185). Up to the bound, when
    * the files share one parquet schema ([[copySchema]]), the records are
    * copied verbatim on the driver: no Spark job. Otherwise one Spark job
    * rewrites the files. Safe to call repeatedly. */
  def vacuum(): Unit = vacuum(DriverKeyLimit)

  private[sources] def vacuum(bound: Long): Unit = consolidate(files(), bound)

  /** Consolidate exactly `inputs`: a file added after they were listed is
    * neither rewritten nor deleted, so its keys survive to the next
    * vacuum. No Spark job when the inputs hold at most `bound` rows and
    * share one schema; one rewrite job otherwise. */
  private[sources] def consolidate(inputs: Seq[FileStatus], bound: Long = DriverKeyLimit): Unit =
    if (inputs.length > 1) {
      val paths = inputs.map(_.getPath)
      val dst = new Path(dir, s"consolidated-${System.currentTimeMillis()}.parquet")
      if (!copyOnDriver(paths, dst, bound)) rewriteWithSpark(paths, dst)
      // publish FIRST, then delete inputs: a crash in between leaves
      // duplicate keys (harmless — the gate is a set difference) instead
      // of losing the whole history (keys must survive re-open,
      // table_history.rs:188-275)
      paths.foreach(p => fs.delete(p, false))
    }

  /** Copy the records of `inputs` into `dst` at the parquet level, under
    * their one schema ([[copySchema]]) and the footer metadata of an input
    * of exactly that schema. False, with nothing published, when their
    * footers count more than `bound` rows or there is no such schema. */
  private def copyOnDriver(inputs: Seq[Path], dst: Path, bound: Long): Boolean = {
    val c = new Configuration(conf)
    val footers = inputs.map(p => withRecords(c, p, identity)((meta, rows, _) => (meta, rows)))
    val schema = if (footers.map(_._2).sum > bound) None else copySchema(footers.map(_._1.getSchema))
    schema.exists { schema =>
      val meta = footers.map(_._1).find(_.getSchema == schema).getOrElse(footers.head._1).getKeyValueMetaData
      publish(dst) { tmp =>
        val w = ExampleParquetWriter.builder(ParquetMeta.outputFile(c, tmp)).withConf(c).withType(schema)
          .withExtraMetaData((meta.asScala - ModelNameKey).asJava)
          .withCompressionCodec(ParquetRowWriter.codec(spark)).build()
        try inputs.foreach(p => withRecords(c, p, identity)((_, _, records) => records.foreach(w.write)))
        finally w.close()
        tmp
      }
      true
    }
  }

  /** Rewrite `inputs` into `dst` with one `coalesce(1)` Spark job. */
  private def rewriteWithSpark(inputs: Seq[Path], dst: Path): Unit = publish(dst) { tmp =>
    // the write completes before any input is deleted, so the inputs
    // need no cache to outlive the deletes
    read(inputs).coalesce(1).write.parquet(tmp.toString)
    fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
  }

  /** Publish as `dst` the parquet file that `write` makes under a hidden
    * temp path (the path itself, or a file in a directory written there).
    * The temp path is deleted afterwards, also when the write fails. */
  private[sources] def publish(dst: Path)(write: Path => Path): Unit = {
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    try rename(write(tmp), dst) finally fs.delete(tmp, true)
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
}

object HistoryTable {
  /** The three concrete histories of the reference (downloaded.rs /
    * processed.rs / compacted.rs), keyed by filename/path. */
  def downloaded(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/downloaded", "filename")
  def processed(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/processed", "filename")
  def compacted(spark: SparkSession, root: String) = new HistoryTable(spark, s"$root/compacted", "path")

  /** At most this many rows of history (footer row counts, one key per
    * row) are gated and vacuumed on the driver. A driver key set costs
    * about 75 bytes plus the key's length per key: 127, 175 and 205 bytes
    * for 55-, 100- and 130-character keys (heap after full GCs around a
    * `Set[String]` of 0.2 M and 1 M keys, JDK 17, G1), so 250,000 path
    * keys take about 45-50 MB while a gate runs. Above it the gate and the
    * vacuum run in Spark instead of filling the driver. */
  private[sources] val DriverKeyLimit = 250000L

  /** parquet-hadoop stamps its object-model name on every file it writes,
    * so a copied footer's value must not be passed back in. */
  private val ModelNameKey = "writer.model.name"

  /** The schema every one of `schemas` copies into verbatim: their
    * common schema, or — when flat schemas differ only in which fields
    * are required — the same fields all optional (a Spark rewrite writes
    * every field optional; driver adds keep Spark's required non-null
    * columns). None otherwise. */
  private def copySchema(schemas: Seq[MessageType]): Option[MessageType] = {
    def optional(t: MessageType): Option[MessageType] = {
      val fields = t.getFields.asScala.toSeq
      if (!fields.forall(f => f.isPrimitive && !f.isRepetition(Repetition.REPEATED))) None
      else Some(new MessageType(t.getName, fields.map { f =>
        val p = f.asPrimitiveType
        Types.primitive(p.getPrimitiveTypeName, Repetition.OPTIONAL).as(p.getLogicalTypeAnnotation)
          .length(p.getTypeLength).named(p.getName): Type
      }.asJava))
    }
    if (schemas.forall(_ == schemas.head)) schemas.headOption
    else Some(schemas.map(optional)).filter(o => o.head.isDefined && o.forall(_ == o.head)).map(_.head.get)
  }

  /** Open `file` once and hand `f` its footer metadata, its row count
    * and its records projected to `project(fileSchema)`. */
  private def withRecords[T](c: Configuration, file: Path, project: MessageType => MessageType)(
      f: (FileMetaData, Long, Iterator[Group]) => T): T = {
    val reader = ParquetMeta.open(c, file)
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = project(meta.getSchema)
      reader.setRequestedSchema(schema)
      val io = new ColumnIOFactory().getColumnIO(schema, meta.getSchema)
      val records = Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
        val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
        Iterator.fill(pages.getRowCount.toInt)(rr.read())
      }
      f(meta, reader.getRecordCount, records)
    } finally reader.close()
  }
}
