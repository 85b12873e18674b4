package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of AEMO FPP 5-minute intervals: eight logical tables
  * per interval (unit SCADA, regional frequency, unit forecasts and the
  * five constraint tables FPP settlement reads). Rows come from a Spark
  * frame whose values are hashes of (seed, table, interval, row); each
  * interval renders as one NEM C/I/D CSV in one zip.
  *
  * Interval `i` starts at [[BaseMicros]] + i × 5 min (UTC). The CSV
  * renders instants as AEST wall clock (+10:00, no DST), which `NemCsv`
  * converts back. */
object NemGen {

  final case class Sizes(units: Int, constraints: Int)

  sealed trait Kind
  case object Ts extends Kind
  case object Num extends Kind
  case object Str extends Kind

  final case class Table(group: String, name: String, cols: Seq[(String, Kind)]) {
    def lakeName: String = s"$group---$name---1"
    /** Column types as `NemCsv` infers them from the CSV. */
    def schema: StructType = StructType(cols.map {
      case (c, Ts) => StructField(c, TimestampType)
      case (c, Num) => StructField(c, DoubleType)
      case (c, Str) => StructField(c, StringType)
    })
  }

  val Regions: IndexedSeq[String] = IndexedSeq("NSW1", "QLD1", "VIC1", "SA1", "TAS1")
  val StepsPerInterval = 75 // 4 s SCADA cadence over 5 minutes
  val IntervalMicros = 300000000L
  val IntervalsPerDay = 288
  /** 2025-06-01T00:00:00Z. */
  val BaseMicros: Long = java.time.Instant.parse("2025-06-01T00:00:00Z").getEpochSecond * 1000000L

  val UnitMw = Table("FPP", "UNIT_MW", Seq("MEASUREMENT_DATETIME" -> Ts, "FPP_UNITID" -> Str,
    "PARTICIPANTID" -> Str, "MEASURED_MW" -> Num, "SCHEDULED_MW" -> Num, "DEVIATION_MW" -> Num,
    "MW_QUALITY_FLAG" -> Num, "INTERVAL_DATETIME" -> Ts, "VERSIONNO" -> Num))
  val Freq = Table("FPP", "REGION_FREQ_MEASURE", Seq("MEASUREMENT_DATETIME" -> Ts,
    "REGIONID" -> Str, "FREQ_DEVIATION_HZ" -> Num, "FREQ_MEASURE_HZ" -> Num,
    "HZ_QUALITY_FLAG" -> Num, "INTERVAL_DATETIME" -> Ts, "VERSIONNO" -> Num))
  val Forecast = Table("DEMAND", "INTERMITTENT_DS_PRED", Seq("DUID" -> Str,
    "OFFERDATETIME" -> Ts, "INTERVAL_DATETIME" -> Ts, "ORIGIN" -> Str,
    "FORECAST_PRIORITY" -> Num, "FORECAST_POE50" -> Num, "RUN_DATETIME" -> Ts))
  val Cf = Table("FPP", "CONTRIBUTION_FACTOR", Seq("CONSTRAINTID" -> Str,
    "INTERVAL_DATETIME" -> Ts, "CONTRIBUTION_FACTOR" -> Num, "VERSIONNO" -> Num))
  val DefaultCf = Table("FPP", "DEFAULT_CONTRIBUTION_FACTOR", Seq("CONSTRAINTID" -> Str,
    "INTERVAL_DATETIME" -> Ts, "DEFAULT_CONTRIBUTION_FACTOR" -> Num, "VERSIONNO" -> Num))
  val ResidualDcf = Table("FPP", "RESIDUAL_CONTRIBUTION_FACTOR", Seq("CONSTRAINTID" -> Str,
    "INTERVAL_DATETIME" -> Ts, "RESIDUAL_DCF" -> Num, "VERSIONNO" -> Num))
  val PerfRates = Table("FPP", "CONSTRAINT_RATES", Seq("CONSTRAINTID" -> Str,
    "INTERVAL_DATETIME" -> Ts, "FPP_PAYMENT_RATE" -> Num, "FPP_RECOVERY_RATE" -> Num,
    "VERSIONNO" -> Num))
  val ResRates = Table("FPP", "RESIDUAL_RATES", Seq("CONSTRAINTID" -> Str,
    "INTERVAL_DATETIME" -> Ts, "FPP" -> Num, "USED_FCAS" -> Num, "UNUSED_FCAS" -> Num,
    "VERSIONNO" -> Num))

  val Tables: Seq[Table] = Seq(UnitMw, Freq, Forecast, Cf, DefaultCf, ResidualDcf, PerfRates, ResRates)

  /** Rows per table per interval — the closed form the lake is checked
    * against. */
  def rowsPerInterval(t: Table, s: Sizes): Long = t match {
    case UnitMw => s.units.toLong * StepsPerInterval
    case Freq => Regions.size.toLong * StepsPerInterval
    case Forecast => s.units.toLong * 3
    case ResidualDcf => (s.constraints + 1L) / 2
    case _ => s.constraints.toLong
  }
  def rowsPerInterval(s: Sizes): Long = Tables.map(rowsPerInterval(_, s)).sum

  /** Table `t` for intervals [from, until), plus the interval `_i` and
    * the row within it `_r`. */
  def frame(spark: SparkSession, t: Table, seed: Long, s: Sizes, from: Int, until: Int): DataFrame = {
    val n = rowsPerInterval(t, s)
    val i = col("_i")
    val r = col("_r")
    // uniform [0, 1) from the seed, a salt and two coordinates
    def u(salt: Int, a: Column, b: Column): Column =
      xxhash64(lit(seed), lit(salt), a, b).bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit((1L << 53).toDouble)
    def micros(c: Column): Column = timestamp_micros(c)
    val t0 = lit(BaseMicros) + i * lit(IntervalMicros)
    val c = r // constraint index of the constraint tables
    val one = lit(1.0)
    val cols: Seq[Column] = t match {
      case UnitMw =>
        val un = (r / StepsPerInterval).cast("int")
        val k = r % StepsPerInterval
        val sched = round(lit(20.0) + lit(80.0) * u(1, un, i), 3)
        val meas = round(sched + lit(10.0) * (u(2, un, i * 100 + k) - 0.5), 3)
        Seq(micros(t0 + k * 4000000L), format_string("UNIT%03d", un), format_string("PART%02d", un % 7),
          meas, sched, round(meas - sched, 3), one, micros(t0 + IntervalMicros), one)
      case Freq =>
        val reg = (r / StepsPerInterval).cast("int")
        val k = r % StepsPerInterval
        val dev = round(lit(0.1) * (u(3, reg, i * 100 + k) - 0.5), 4)
        Seq(micros(t0 + k * 4000000L), element_at(typedLit(Regions), reg + 1), dev, round(dev * 0.8, 4),
          when(u(4, reg, i * 100 + k) < 0.02, lit(0.0)).otherwise(one), micros(t0 + IntervalMicros), one)
      case Forecast =>
        // two AWEFS_ASEFS runs, the later one winning, and one other origin
        val un = (r / 3).cast("int")
        val run = r % 3
        val runAt = micros(t0 - (lit(2) - least(run, lit(1L))) * IntervalMicros)
        Seq(format_string("UNIT%03d", un), runAt, micros(t0),
          when(run < 2, lit("AWEFS_ASEFS")).otherwise(lit("PARTICIPANT")), one,
          round(lit(20.0) + lit(80.0) * u(5, un, i * 4 + run), 3), runAt)
      case ResidualDcf =>
        Seq(format_string("F_FPP_C%02d", r * 2), micros(t0), round(u(6, r * 2, i), 4), one)
      case Cf | DefaultCf =>
        Seq(format_string("F_FPP_C%02d", c), micros(t0), round(u(if (t == Cf) 7 else 8, c, i), 4), one)
      case PerfRates =>
        Seq(format_string("F_FPP_C%02d", c), micros(t0), round(u(9, c, i) * 50.0, 3),
          round(u(10, c, i) * 50.0, 3), one)
      case ResRates =>
        Seq(format_string("F_FPP_C%02d", c), micros(t0), round(u(11, c, i), 3), round(u(12, c, i), 3),
          round(u(13, c, i), 3), one)
    }
    val named = cols.zip(t.schema.fields).map { case (v, f) => v.cast(f.dataType).as(f.name) }
    spark.range(from * n, until * n, 1, spark.sparkContext.defaultParallelism)
      .select(floor(col("id") / n).cast("int").as("_i"), pmod(col("id"), lit(n)).cast("int").as("_r"))
      .select(named ++ Seq(i, r): _*)
  }

  private val AestClock = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.ofHours(10))
  private val AestStamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
    .withZone(java.time.ZoneOffset.ofHours(10))
  private def instant(micros: Long) = java.time.Instant.ofEpochSecond(micros / 1000000L)

  /** `PUBLIC_FPP_<AEST yyyyMMddHHmm>_<seq>.zip` — the splitter takes the
    * partition date from the name. */
  def zipName(i: Int): String =
    f"PUBLIC_FPP_${AestStamp.format(instant(BaseMicros + i * IntervalMicros))}_${i.toLong}%016d.zip"

  /** Intervals [from, until) as NEM C/I/D CSV texts, one per interval. */
  def csvs(spark: SparkSession, seed: Long, s: Sizes, from: Int, until: Int): IndexedSeq[String] = {
    val body = Array.fill(until - from)(new StringBuilder(1 << 16))
    val counts = Array.fill(until - from)(0L)
    // one collect per table, run side by side; the texts are assembled in table order
    val collected = graft.Par.mapBounded(Tables.toIndexedSeq, spark.sparkContext.defaultParallelism) { t =>
      Some(t -> frame(spark, t, seed, s, from, until).orderBy("_i", "_r").collect())
    }
    collected.foreach { case (t, rows) =>
      body.foreach(_.append(s"I,${t.group},${t.name},1,").append(t.cols.map(_._1).mkString(",")).append('\n'))
      rows.foreach { row =>
        val k = row.getAs[Int]("_i") - from
        val sb = body(k)
        sb.append(s"D,${t.group},${t.name},1")
        t.cols.indices.foreach { c =>
          sb.append(',')
          t.cols(c)._2 match {
            case Ts => sb.append('"').append(AestClock.format(row.getTimestamp(c).toInstant)).append('"')
            case Num => sb.append(row.getDouble(c).toString)
            case Str => sb.append(row.getString(c))
          }
        }
        sb.append('\n')
        counts(k) += 1
      }
    }
    body.indices.map { k =>
      val stamp = AestClock.format(instant(BaseMicros + (from + k) * IntervalMicros)).split(' ')
      s"C,NEMP.WORLD,FPP,AEMO,PUBLIC,${stamp(0)},${stamp(1)},${from + k},,${from + k}\n" +
        body(k) + s"""C,"END OF REPORT",${counts(k) + 2}\n"""
    }
  }

  /** A CSV text as a one-entry zip named after interval `i`. */
  def zip(i: Int, csv: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry(zipName(i).stripSuffix(".zip") + ".CSV"))
    z.write(csv.getBytes(StandardCharsets.UTF_8))
    z.closeEntry()
    z.close()
    bos.toByteArray
  }
}
