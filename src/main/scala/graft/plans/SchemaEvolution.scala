package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema union + type widening across heterogeneous parquet files — the
  * part of compaction Spark's `mergeSchema` cannot do (it refuses
  * string-vs-double). Reference semantics
  * (/root/reference/src/bin/compactor.rs:230-256,335-406):
  *  - field set = union over all file schemas;
  *  - per field, the "most evolved" type wins: Utf8 → Float64 and
  *    Utf8 → Timestamp are legal widenings; numeric Int → Long → Double;
  *  - irreconcilable pairs (e.g. double vs timestamp) fall back to string
  *    (everything casts to string, nothing is lost);
  *  - nullable is OR-ed (we keep everything nullable, as the lake does);
  *  - final field order is ALPHABETICAL (compactor.rs:401-405).
  */
object SchemaEvolution {

  /** Most-evolved common type for one field observed with types a and b. */
  def widenTypes(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (StringType, other) => other
    case (other, StringType) => other
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType // irreconcilable → safe fallback
  }

  /** Union of field names with per-field widening; alphabetical order. */
  def widen(schemas: Seq[StructType]): StructType = {
    val byName = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.fields.foreach { f =>
      byName.get(f.name) match {
        case None => byName(f.name) = f.dataType
        case Some(t) => byName(f.name) = widenTypes(t, f.dataType)
      }
    })
    StructType(byName.toSeq.sortBy(_._1).map { case (n, t) => StructField(n, t, nullable = true) })
  }

  /** NEM wall-clock timestamp strings parse at fixed +10:00
    * (chunk.rs:425-444); ISO strings parse as-is. */
  private def parseTs(c: org.apache.spark.sql.Column) =
    coalesce(
      to_utc_timestamp(try_to_timestamp(c, lit("yyyy/MM/dd HH:mm:ss")), "+10:00"),
      c.try_cast(TimestampType))

  /** Cast/null-fill a file's frame to the widened target schema, in target
    * (alphabetical) column order. Empty strings become null before numeric
    * or timestamp casts, matching the reference's numeric parse
    * (chunk.rs:211-227, compactor.rs:430-542). */
  def conform(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = target.fields.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(src) if src == f.dataType => col(f.name)
        case Some(StringType) =>
          val c = when(col(f.name) === "", lit(null)).otherwise(col(f.name))
          f.dataType match {
            case TimestampType => parseTs(c).as(f.name)
            // try_cast: unparseable values null out instead of failing the
            // compaction under ANSI mode (reference nulls: chunk.rs:211-227)
            case other => c.try_cast(other).as(f.name)
          }
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Read a set of parquet files as one frame under the widened schema —
    * the `union_by_name + to_supertypes` read used everywhere in the
    * reference (crunch.rs:183-217, dashboards' union_by_name=true).
    *
    * Runs no Spark job: every file's schema comes from its footer, read on
    * the driver ([[graft.sources.ParquetMeta.sparkSchema]]; Spark's own
    * inference would run one job per file). Each run of consecutive files
    * with the same schema is one relation read under that schema and
    * conformed once, so the union keeps the files' order run by run.
    * Nothing is scanned until the result is consumed. */
  def readWidened(spark: org.apache.spark.sql.SparkSession, files: Seq[String]): DataFrame = {
    val schemas = files.map(graft.sources.ParquetMeta.sparkSchema(spark, _))
    val target = widen(schemas)
    val runs = files.zip(schemas).foldLeft(Vector.empty[(StructType, Vector[String])]) {
      case (done :+ ((s, run)), (f, fs)) if fs == s => done :+ ((s, run :+ f))
      case (done, (f, fs)) => done :+ ((fs, Vector(f)))
    }
    runs.map { case (s, run) => conform(spark.read.schema(s).parquet(run: _*), target) }
      .reduce(_ unionByName _)
  }
}
