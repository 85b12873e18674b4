package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.io.InputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences, BoundReference, Expression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.graftops.PlanApi
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.StructType

/** The one merge of parquet files into one: the compactor's partition
  * merge (compactor.rs:644-755) and the history vacuum
  * (table_history.rs:143-185). Each input is read as Spark internal rows
  * through parquet-hadoop with Spark's `ParquetReadSupport`
  * ([[ParquetMeta.inputFile]]), conformed to the target schema by an
  * `UnsafeProjection` and written through `writer`. It streams: its memory
  * is the one row group the writer buffers (`parquet.block.size`).
  * Serializable, so one built on the driver also merges inside a task. */
private[graft] final class ParquetMerge(writer: ParquetRowWriter) extends Serializable {
  import ParquetMerge._

  /** `plan`'s inputs, in order, as one parquet file; returns the rows
    * written. Inside a task, the input files' lengths and the written
    * file's length count in the task's input and output metrics. */
  def apply(plan: Plan): Long = {
    var rows = 0L
    val out = writer.open(new Path(plan.dst), plan.target)
    try plan.inputs.foreach { case (file, schema, conform) =>
      val project = UnsafeProjection.create(conform)
      read(new Path(file), schema)(_.foreach { r => out.write(project(r)); rows += 1 })
    } finally out.close()
    def length(f: String) = ParquetMeta.inputFile(writer.conf.value, new Path(f)).getLength
    Option(TaskContext.get()).foreach(PlanApi.countTaskBytes(_, plan.inputs.map(i => length(i._1)).sum, length(plan.dst)))
    rows
  }

  /** `f` of the rows of `file` read as `schema`: the schema its footer
    * converts to, or some of its columns. A row is valid until the next. */
  private[sources] def read[T](file: Path, schema: StructType)(f: Iterator[InternalRow] => T): T = {
    // each reader gets its own conf: the requested schema is set in it
    val c = new Configuration(writer.conf.value)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    val reader = new Reader(ParquetMeta.inputFile(c, file), c).build()
    try f(Iterator.continually(reader.read()).takeWhile(_ != null)) finally reader.close()
  }
}

private[graft] object ParquetMerge {

  /** A merge planned on the driver: each input file, its footer schema and
    * the bound expressions conforming its rows to `target`; the file `dst`. */
  final case class Plan(inputs: Seq[(String, StructType, Seq[Expression])], target: StructType, dst: String)

  /** The merge of `files` into `dst` under the target that `union` makes
    * of their footer schemas: each file conformed by
    * [[graft.plans.SchemaEvolution.conform]]'s select list, resolved once
    * per distinct schema ([[boundSelect]]), or by the identity where the
    * schema is the target (the optimizer would drop that select). */
  def plan(spark: SparkSession, files: Seq[Path], dst: Path)(union: Seq[StructType] => StructType): Plan = {
    val schemas = files.map(f => ParquetMeta.sparkSchema(spark, f.toString))
    val target = union(schemas)
    val conform = schemas.distinct.map { s =>
      s -> (if (s == target) s.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
            else boundSelect(spark, s)(graft.plans.SchemaEvolution.conform(_, target)))
    }.toMap
    Plan(files.zip(schemas).map { case (f, s) => (f.toString, s, conform(s)) }, target, dst.toString)
  }

  /** The select list that `select` makes over a row of `schema`, as the
    * optimized plan Spark would run it, bound to the row's ordinals:
    * resolved over an empty relation (no job), for an `UnsafeProjection`
    * to evaluate row by row in a task. */
  private[graft] def boundSelect(spark: SparkSession, schema: StructType)(
      select: DataFrame => DataFrame): Seq[Expression] = {
    val (list, input) = select(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
      .queryExecution.optimizedPlan match {
      case Project(list, child) => (list.map { case a: Alias => a.child; case e => e }, child.output)
      case plan => throw new IllegalStateException(s"no select list in\n$plan")
    }
    BindReferences.bindReferences(list, AttributeSeq(input))
  }

  private final class Reader(file: InputFile, conf: Configuration)
      extends ParquetReader.Builder[InternalRow](file, new HadoopParquetConfiguration(conf)) {
    // files of Spark 3 or later and of ParquetRowWriter carry no
    // legacy-calendar footer key: their dates need no rebase
    override protected def getReadSupport(): ReadSupport[InternalRow] = new ParquetReadSupport(None, false,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED), RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
  }
}
