package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** Parquet footer metadata reads — row counts, schema and row-group stats
  * without scanning data (reference `src/bin/verify.rs:88-111`,
  * `src/bin/inspect_parquet.rs:21-188`). Driver-side footer reads only;
  * used by the reconciliation verify job where a full `count()` scan per
  * file would be wasteful, and by the lake's readers
  * ([[graft.plans.SchemaEvolution.readWidened]], [[HistoryTable]]) in place
  * of Spark's schema inference, which runs one job per read. */
object ParquetMeta {

  final case class FileMeta(path: String, rows: Long, rowGroups: Int,
      columns: Int, totalByteSize: Long)

  /** Footer-only metadata of one parquet file. */
  def read(spark: SparkSession, file: String): FileMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
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
      else fs.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .minBy(_.toString)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
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
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
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

  /** Metadata for every parquet file under a directory (recursive). */
  def readDir(spark: SparkSession, dir: String): Seq[FileMeta] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dir), true)
    val out = scala.collection.mutable.ArrayBuffer.empty[FileMeta]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet"))
        out += read(spark, s.getPath.toString)
    }
    out.toSeq
  }

  def toDF(spark: SparkSession, metas: Seq[FileMeta]): DataFrame = {
    import spark.implicits._
    metas.toDF()
  }
}
