package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet files of Spark's internal rows, written exactly as a Spark
  * write writes them but without a Spark job of their own: parquet-hadoop
  * with Spark's `ParquetWriteSupport` under the session's parquet confs
  * (the same physical schema, timestamp encoding and Spark schema footer
  * key). Serializable, so one built on the driver also writes inside a
  * task. A writer buffers at most one row group (`parquet.block.size`) in
  * memory, as Spark's own file writer does.
  *
  * A local file is written through parquet's local file I/O
  * ([[ParquetMeta.outputFile]]), so it has no Hadoop `.crc` sidecar. Its
  * integrity check is parquet's own: every page carries a CRC
  * (`parquet.page.write-checksum.enabled`, on by default), which a read
  * under `parquet.page.verify-checksum.enabled=true` verifies. */
private[sources] final class ParquetRowWriter(conf: SerializableConfiguration,
    codec: CompressionCodecName) extends Serializable {

  /** The file-name ending Spark gives this codec's parquet files, e.g.
    * `.zstd.parquet`. */
  def extension: String = codec.getExtension + ".parquet"

  /** An open writer of rows of `schema` into `file`. */
  def open(file: Path, schema: StructType): ParquetWriter[InternalRow] = {
    val c = new Configuration(conf.value)
    ParquetWriteSupport.setSchema(schema, c)
    new ParquetRowWriter.Builder(ParquetMeta.outputFile(c, file)).withConf(c).withCompressionCodec(codec).build()
  }

  /** `rows` as one parquet file. */
  def write(file: Path, schema: StructType, rows: Iterator[InternalRow]): Unit = {
    val w = open(file, schema)
    try rows.foreach(w.write) finally w.close()
  }
}

private[sources] object ParquetRowWriter {

  /** A writer under the session's Hadoop and parquet confs and the codec
    * of the `compression` write option, else the session's codec. */
  def apply(spark: SparkSession, compression: Option[String] = None): ParquetRowWriter = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => c.set(e.key, spark.conf.get(e.key)))
    new ParquetRowWriter(new SerializableConfiguration(c), codec(spark, compression))
  }

  /** The codec of the `compression` write option, else the session's. */
  def codec(spark: SparkSession, compression: Option[String] = None): CompressionCodecName =
    CompressionCodecName.valueOf(new ParquetOptions(compression.map("compression" -> _).toMap,
      spark.sessionState.conf).compressionCodecClassName)

  private final class Builder(file: OutputFile) extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
