package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile, OutputFile}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Parquet footer metadata reads — row counts, schema and row-group stats
  * without scanning data (reference `src/bin/verify.rs:88-111`,
  * `src/bin/inspect_parquet.rs:21-188`). Driver-side footer reads only;
  * used by the reconciliation verify job where a full `count()` scan per
  * file would be wasteful, and by the lake's readers
  * ([[graft.plans.SchemaEvolution.readWidened]], [[HistoryTable]]) in place
  * of Spark's schema inference, which runs one job per read. It also
  * picks the file layer of every file the program itself reads or writes
  * ([[inputFile]], [[outputFile]]). */
object ParquetMeta {

  final case class FileMeta(path: String, rows: Long, rowGroups: Int,
      columns: Int, totalByteSize: Long)

  /** Open one parquet file with read options taken from `conf`.
    * parquet-hadoop's `open(InputFile)` builds its default options on a
    * fresh Hadoop `Configuration`, which loads the default resources: about
    * 13 ms of every open on a 4-vCPU host, ten times the open itself. */
  private[graft] def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(inputFile(conf, file), HadoopReadOptions.builder(conf, file).build())

  /** `file` as a path of the local file system, when its Hadoop file
    * system serves the `file` scheme. The branch is chosen on the scheme of
    * the qualified path, not on the file system's class: in Spark's jar set
    * hive-exec registers Hive's `ProxyLocalFileSystem` for `file:` through
    * the ServiceLoader, so a `LocalFileSystem` class test never matches. */
  private def local(conf: Configuration, file: Path): Option[java.nio.file.Path] = {
    val uri = file.getFileSystem(conf).makeQualified(file).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  /** A parquet file the program itself reads. A local one is read through
    * parquet's local file I/O; any other through its Hadoop file system. */
  private[graft] def inputFile(conf: Configuration, file: Path): InputFile =
    local(conf, file).fold[InputFile](HadoopInputFile.fromPath(file, conf))(new LocalInputFile(_))

  /** A file the program itself writes (its parquet files and the
    * compactor's manifest), its missing parent directories made. A local
    * one is written through parquet's local file I/O, with no `.crc`
    * sidecar: Hadoop's checksummed local file system forks `chmod` for a
    * new file, its `.crc` and each new directory on a host without the
    * native Hadoop library. Any other scheme keeps its Hadoop file system,
    * which sees every create. Renames and deletes stay on the Hadoop file
    * system, which forks nothing for them. */
  private[graft] def outputFile(conf: Configuration, file: Path): OutputFile =
    local(conf, file).fold[OutputFile](HadoopOutputFile.fromPath(file, conf)) { p =>
      Files.createDirectories(p.getParent)
      new LocalOutputFile(p)
    }

  /** A name Spark's file listing skips: hidden (`.`), or a marker or
    * staging name (`_`). */
  private def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** A parquet data file the lake's readers see: the one rule for Spark's
    * listing, the compactor, the histories and the reconciliation. */
  def visible(name: String): Boolean = name.endsWith(".parquet") && !hidden(name)

  /** Footer-only metadata of one parquet file. */
  def read(spark: SparkSession, file: String): FileMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = open(conf, new Path(file))
    try {
      val f = reader.getFooter
      val blocks = f.getBlocks.asScala
      FileMeta(file,
        rows = blocks.map(_.getRowCount).sum,
        rowGroups = blocks.size,
        columns = f.getFileMetaData.getSchema.getFieldCount,
        totalByteSize = blocks.map(_.getTotalByteSize).sum)
    } finally reader.close()
  }

  /** The schema `spark.read.parquet(path).schema` infers, read from one
    * footer on the driver instead of by Spark's inference job: Spark's own
    * `ParquetFileFormat.readSchemaFromFooter` with the converter settings
    * its inference uses, made nullable as the file source makes every
    * inferred schema. A directory resolves as Spark resolves it without
    * `mergeSchema`: to its first visible file in path order (flat
    * directories only — no partition columns are discovered). */
  def sparkSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath).filterNot(f => hidden(f.getName)).minBy(_.toString)
    val reader = open(conf, file)
    val footer = try new Footer(file, reader.getFooter) finally reader.close()
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(footer, converter).toNullable
  }

  /** Per-column, per-row-group statistics — what the reference's
    * inspect_parquet prints (inspect_parquet.rs:21-188): null counts,
    * min/max (as rendered strings), sizes and codec, straight from the
    * footer without touching data pages. Anyone debugging partition/
    * row-group pruning wants exactly this. */
  final case class ColumnMeta(path: String, rowGroup: Int, column: String,
      physicalType: String, values: Long, nulls: Long,
      min: String, max: String,
      compressedBytes: Long, uncompressedBytes: Long, codec: String)

  /** Footer-only column statistics of one parquet file. */
  def columnStats(spark: SparkSession, file: String): Seq[ColumnMeta] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = open(conf, new Path(file))
    try {
      reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, gi) =>
        b.getColumns.asScala.map { c =>
          val st = c.getStatistics
          val hasMinMax = st != null && !st.isEmpty && st.hasNonNullValue
          ColumnMeta(
            path = file,
            rowGroup = gi,
            column = c.getPath.toDotString,
            physicalType = c.getPrimitiveType.getPrimitiveTypeName.name,
            values = c.getValueCount,
            nulls = if (st != null && !st.isEmpty) st.getNumNulls else -1L,
            min = if (hasMinMax) st.minAsString else null,
            max = if (hasMinMax) st.maxAsString else null,
            compressedBytes = c.getTotalSize,
            uncompressedBytes = c.getTotalUncompressedSize,
            codec = c.getCodec.name)
        }
      }
    } finally reader.close()
  }

  def columnStatsDF(spark: SparkSession, file: String): DataFrame = {
    import spark.implicits._
    columnStats(spark, file).toDF()
  }

  /** Metadata for every visible parquet file under a directory,
    * recursively, never descending into a hidden or staging directory
    * (such as a running write's `_temporary` or `_split-` dir). */
  def readDir(spark: SparkSession, dir: String): Seq[FileMeta] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (hidden(name)) Nil
      else if (s.isDirectory) walk(s.getPath)
      else if (visible(name)) Seq(s.getPath)
      else Nil
    }
    walk(new Path(dir)).map(f => read(spark, f.toString))
  }

  def toDF(spark: SparkSession, metas: Seq[FileMeta]): DataFrame = {
    import spark.implicits._
    metas.toDF()
  }
}
