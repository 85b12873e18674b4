package perfbench

import java.io.File
import Tracer.Span

/** Lake layout read from outside, through the file system. */
object Layout {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isFile)

  /** Every data file under `root`, skipping hidden and `_` entries. */
  def parquetFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Seq.empty
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    Option(new File(root).listFiles()).toSeq.flatten.flatMap(walk)
  }

  /** Every generated table of `lake` read back with the columns the
    * splitter writes: the CSV's inferred column types and the `date`
    * partition column. Order is not compared: the compactor sorts the
    * columns by name. */
  def checkSchemas(ctx: Main.Ctx, workload: String, lake: String): Unit =
    NemGen.Tables.foreach { t =>
      val got = ctx.spark.read.parquet(s"$lake/${t.lakeName}").schema
      val want = t.schema.add("date", org.apache.spark.sql.types.DateType)
      ctx.check(s"$workload.schema.${t.name}", got.fields.sortBy(_.name).sameElements(want.fields.sortBy(_.name)),
        s"${got.simpleString} vs ${want.simpleString}")
    }

  /** The `date=` partition directories of one table. */
  def partitions(table: String): Seq[File] =
    Option(new File(table).listFiles()).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("date="))

  /** Data files per `date=` partition directory over the whole lake. */
  def filesPerPartition(lake: String): Double = {
    val parts = Option(new File(lake).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(t => partitions(t.getPath))
    if (parts.isEmpty) 0.0 else parts.map(p => parquetFiles(p.getPath).size).sum.toDouble / parts.size
  }
}

/** Dispatch, planning, scan and shuffle figures over a list of operation
  * spans, each the median over the operations. */
object Layers {
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def perOp(tr: Tracer, ops: Seq[Span], cores: Int): Map[String, Double] = {
    val js = ops.map(tr.jobsOf)
    val ps = ops.map(tr.plansOf)
    Map(
      "jobs_per_query" -> med(js.map(_.size.toDouble)),
      "stages_per_query" -> med(js.map(_.map(_.stages).sum.toDouble)),
      "tasks_per_query" -> med(js.map(_.map(_.tasks).sum.toDouble)),
      "driver_gap_s" -> med(ops.map(tr.driverGap)),
      "plan.analysis_s" -> med(ps.map(_.map(_.analysisMs).sum / 1000.0)),
      "plan.optimize_s" -> med(ps.map(_.map(_.optimizeMs).sum / 1000.0)),
      "plan.physical_s" -> med(ps.map(_.map(_.physicalMs).sum / 1000.0)),
      "scan.files" -> med(ps.map(_.map(_.scanFiles).sum.toDouble)),
      "scan.bytes" -> med(js.map(_.map(_.inBytes).sum.toDouble)),
      "shuffle.write_bytes" -> med(js.map(_.map(_.shuffleWrite).sum.toDouble)),
      "shuffle.read_bytes" -> med(js.map(_.map(_.shuffleRead).sum.toDouble)),
      "spill.bytes" -> med(js.map(_.map(_.spill).sum.toDouble)),
      "busy_ratio" -> med(ops.zip(js).map { case (s, j) => j.map(_.runMs).sum / 1000.0 / (s.seconds * cores) })
    )
  }
}
