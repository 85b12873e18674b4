package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import graft.pipeline.Crunch
import Main._

/** `crunch`: bulk FPP analytics over a compacted lake built during
  * set-up. An operation is one UTC day: steps 1–4 (`frequencyMeasure` →
  * `hypotheticalTrajectory` → `hypotheticalDeviations` → `performance`)
  * and the settlement (steps 5–11) down to the daily charge, collected
  * as its one row. Days are taken in turn, and the caches are cleared
  * after each operation, so no day reads another's cached forecasts. */
final class CrunchWorkload(ctx: Ctx) extends Workload {
  import CrunchWorkload._

  private val spark = ctx.spark
  private var lake: String = _
  private var opsDone = 0
  /** The daily charge each day's operations collected. */
  private val totals = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Self time of each step, one map per ladder. */
  private val ladders = ArrayBuffer.empty[Map[String, Double]]

  /** The lake for [[Days]] days. */
  def prepare(): Unit = {
    lake = ctx.dir("crunch-lake").toString
    build(lake, Sizes, 0, Days * NemGen.IntervalsPerDay)
  }

  /** Step 4 of every day, counted against spine × units, beside one
    * whole operation, then one more operation: the first after the
    * counts still runs slower, by a varying amount. */
  def warmup(): Unit = {
    val counts = graft.Par.mapBounded(-1 +: (0 until Days), 2) { d =>
      if (d < 0) { op(None); None } else Some(d -> steps(d).perf.count())
    }
    ctx.clearCaches()
    op(None)
    opsDone = 0
    counts.foreach { case (d, n) =>
      ctx.check(s"crunch.rows.${date(d)}", n == RowsPerDay, s"$n rows, spine × units = $RowsPerDay")
    }
  }

  /** Every table for intervals [from, until), in `splitToLake`'s output
    * schema and the compacted layout: columns sorted by name and one
    * `compacted.parquet` per `date=` partition, dated by the interval's
    * AEST start the way the splitter dates a zip by its name. */
  private def build(root: String, s: NemGen.Sizes, from: Int, until: Int): Unit =
    graft.Par.mapBounded(NemGen.Tables.toIndexedSeq, ctx.cores) { t =>
      val start = timestamp_micros(lit(NemGen.BaseMicros) + col("_i") * lit(NemGen.IntervalMicros))
      NemGen.frame(spark, t, ctx.seed, s, from, until)
        .select(t.cols.map(_._1).sorted.map(col) :+ to_date(from_utc_timestamp(start, "+10:00")).as("date"): _*)
        .coalesce(1)
        .write.partitionBy("date").option("compression", "zstd")
        .parquet(s"$root/${t.lakeName}")
      Layout.partitions(s"$root/${t.lakeName}").foreach { p =>
        val files = Option(p.listFiles()).toSeq.flatten
        files.filterNot(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).foreach(Layout.delete)
        val parts = files.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        require(parts.size == 1, s"${parts.size} files in $p")
        require(parts.head.renameTo(new File(p, "compacted.parquet")), s"cannot rename in $p")
      }
      Layout.files(s"$root/${t.lakeName}").foreach(Layout.delete)
      Some(t)
    }

  private final case class Steps(fm: DataFrame, traj: DataFrame, dev: DataFrame, perf: DataFrame,
      summary: DataFrame)

  private def date(d: Int): String =
    java.time.LocalDate.of(2025, 6, 1).plusDays(d.toLong).toString

  /** Table `t` restricted to UTC day `d` on `tsCol`, reading only the two
    * AEST-dated partitions the day spans. */
  private def read(t: NemGen.Table, tsCol: String, d: Int): DataFrame = {
    val lo = NemGen.BaseMicros + d * DayMicros
    spark.read.parquet(s"$lake/${t.lakeName}")
      .filter(col("date").between(lit(date(d)).cast("date"), lit(date(d + 1)).cast("date")))
      .filter(col(tsCol) >= timestamp_micros(lit(lo)) && col(tsCol) < timestamp_micros(lit(lo + DayMicros)))
  }

  /** A constraint table as settlement reads it: (constraintid, ts, …). */
  private def dim(t: NemGen.Table, d: Int, cols: String*): DataFrame =
    read(t, "INTERVAL_DATETIME", d).select(
      Seq(col("CONSTRAINTID").as("constraintid"), col("INTERVAL_DATETIME").as("ts")) ++
        cols.map(c => col(c).as(c.toLowerCase)): _*)

  private def interval(ts: Column): Column =
    timestamp_micros(floor(unix_micros(ts) / NemGen.IntervalMicros) * NemGen.IntervalMicros)

  private def steps(d: Int): Steps = {
    val fm = Crunch.frequencyMeasure(read(NemGen.Freq, "MEASUREMENT_DATETIME", d))
    val traj = Crunch.hypotheticalTrajectory(spark, read(NemGen.Forecast, "INTERVAL_DATETIME", d), date(d))
    val dev = Crunch.hypotheticalDeviations(traj, read(NemGen.UnitMw, "MEASUREMENT_DATETIME", d))
    val perf = Crunch.performance(dev, fm)
    // step 5 sums each 5-minute interval's performance
    val perfSplit = perf.select(interval(col("ts")).as("ts"),
      col("p_raise").as("raise_perf"), col("p_lower").as("lower_perf"))
    val (_, summary) = Crunch.settlement(perfSplit,
      dim(NemGen.Cf, d, "CONTRIBUTION_FACTOR"),
      dim(NemGen.DefaultCf, d, "DEFAULT_CONTRIBUTION_FACTOR"),
      dim(NemGen.ResidualDcf, d, "RESIDUAL_DCF"),
      dim(NemGen.PerfRates, d, "FPP_PAYMENT_RATE", "FPP_RECOVERY_RATE"),
      dim(NemGen.ResRates, d, "FPP", "USED_FCAS", "UNUSED_FCAS"))
    Steps(fm, traj, dev, perf, summary)
  }

  /** One day; returns its latency in seconds. */
  private def op(tr: Option[Tracer]): Double = {
    val d = opsDone % Days
    def run(): Double = Stats.time {
      totals(date(d)) = steps(d).summary.collect().head.getDouble(0)
    }._2
    val s = tr.fold(run())(_.traced("day")(run()))
    ctx.clearCaches()
    opsDone += 1
    s
  }

  /** Each step forced on its own, from scratch; a step's self time is its
    * time less that of the steps it reads (step 2 does not read step 1). */
  private def ladder(): Unit = {
    val st = steps(opsDone % Days)
    def t(body: => Unit): Double = { val s = Stats.time(body)._2; ctx.clearCaches(); s }
    val t1 = t(graft.Bench.force(st.fm))
    val t2 = t(graft.Bench.force(st.traj))
    val t3 = t(graft.Bench.force(st.dev))
    val t4 = t(graft.Bench.force(st.perf))
    val t5 = t(st.summary.collect())
    ladders += Map("crunch.step1_s" -> t1, "crunch.step2_s" -> t2, "crunch.step3_s" -> (t3 - t2),
      "crunch.step4_s" -> (t4 - t3 - t1), "crunch.settle_s" -> (t5 - t4))
  }

  /** Days until `seconds` have passed. Traced runs cycle through a plain
    * day, a traced day and a step ladder, at least once each. */
  def window(seconds: Double, tr: Option[Tracer]): Window = {
    val ops = ArrayBuffer.empty[Op]
    var i = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || (tr.isDefined && i < 3)) {
      (tr, i % 3) match {
        case (Some(_), 2) => ladder()
        case (Some(t), 1) => ops += Op(op(Some(t)), traced = true)
        case _ => ops += Op(op(None), traced = false)
      }
      i += 1
    }
    ctx.log(s"days: ${ops.map(o => f"${o.seconds}%.2f").mkString(" ")}")
    Window(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def layers(tr: Tracer, w: Window): Map[String, Double] = {
    val days = tr.spansNamed("day")
    val js = days.map(tr.jobsOf)
    val per = Layers.perOp(tr, days, ctx.cores)
    ladders.head.keys.map(k => k -> Stats.median(ladders.map(_(k)).toSeq)).toMap ++ Map(
      "trace.overhead_pct" -> Stats.overheadPct(w.traced, w.plain),
      "crunch_day_s" -> Stats.median(w.plain),
      "crunch_rows_per_s" -> RowsPerDay / Stats.median(w.plain),
      "crunch.jobs" -> per("jobs_per_query"),
      "crunch.stages" -> per("stages_per_query"),
      "crunch.shuffle_bytes" -> Stats.median(js.map(_.map(_.shuffleWrite).sum.toDouble)),
      "crunch.spill_bytes" -> per("spill.bytes"),
      "crunch.busy_ratio" -> per("busy_ratio")) ++ per
  }

  /** The lake's schema against the one `ingest` checks the splitter
    * writes, and (in `checks.py`) each collected daily charge against
    * DuckDB and numpy. */
  def verify(): Unit = {
    Layout.checkSchemas(ctx, "crunch", lake)
    ctx.py("lake") = lake
    ctx.py("totals") = totals
    ctx.py("alpha") = Crunch.DefaultAlpha
    ctx.py("tables") = NemGen.Tables.map(t => t.name -> t.lakeName).toMap
  }
}

object CrunchWorkload {
  /** UTC days in the lake, from 2025-06-01. */
  val Days = 1
  val DayMicros: Long = NemGen.IntervalsPerDay * NemGen.IntervalMicros
  val Sizes = NemGen.Sizes(units = 20, constraints = 8)
  /** Step 4's rows per day: the 4 s spine times the units. */
  val RowsPerDay: Long = NemGen.IntervalsPerDay.toLong * NemGen.StepsPerInterval * Sizes.units
}
