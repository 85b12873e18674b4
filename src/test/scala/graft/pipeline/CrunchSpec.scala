package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class CrunchSpec extends SparkSpec {
  import CrunchSpec.ts

  /** The spine as `explode(sequence(…))` of one row, the form
    * [[Crunch.daySpine]] must reproduce tick for tick. */
  private def sequenceSpine(date: String) =
    spark.range(1).select(explode(sequence(
      to_timestamp(lit(s"$date 00:00:00")),
      to_timestamp(lit(s"$date 23:59:56")),
      expr("INTERVAL 4 SECONDS"))).as("ts"))

  private def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq

  test("daySpine: the range spine equals the sequence spine in every zone, DST days included") {
    // America/Santiago switches at midnight: 2025-04-05 24:00 goes back
    // to 23:00, and 2025-09-07 00:00 (a wall time that does not exist)
    // forward to 01:00
    val santiago = java.time.ZoneId.of("America/Santiago").getRules
    Seq("2025-04-05T23:30" -> "2025-04-06T00:00", "2025-09-07T00:00" -> "2025-09-07T00:00").foreach {
      case (during, at) =>
        val switch = santiago.getTransition(java.time.LocalDateTime.parse(during))
        assert(switch != null && switch.getDateTimeBefore === java.time.LocalDateTime.parse(at), during)
    }
    val cases = Seq(
      "UTC" -> "2025-06-07", "Australia/Brisbane" -> "2025-06-07",
      "Australia/Sydney" -> "2025-04-06", "Australia/Sydney" -> "2025-10-05",
      "America/Santiago" -> "2025-04-05", "America/Santiago" -> "2025-09-07")
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    val sizes = try cases.map { case (zone, date) =>
      spark.conf.set(key, zone)
      val expected = micros(sequenceSpine(date))
      assert(micros(Crunch.daySpine(spark, date)) === expected, s"$zone $date")
      (zone, date) -> expected.size
    }.toMap finally spark.conf.set(key, saved)
    // a 25-hour and a 23-hour day, less one 4 s tick each
    assert(sizes(("Australia/Sydney", "2025-04-06")) === 22500)
    assert(sizes(("Australia/Sydney", "2025-10-05")) === 20700)
    assert(sizes(("UTC", "2025-06-07")) === 21600)
  }

  test("daySpine: the spine is spread over more than one partition") {
    val rows = Crunch.daySpine(spark, "2025-06-07").rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(rows.count(_ > 0) > 1, rows.toSeq)
    assert(rows.sum === 21600)
  }

  test("step 1: EWMA resets per region; null passes without advancing state") {
    import spark.implicits._
    val a = 2.0 / 9.0
    val freq = Seq(
      // region NSW1: 0.1, null, 0.2 — null emits null, state carries
      (ts("2025-06-07T00:00:00Z"), "NSW1", Some(0.1), 0.0, 1.0),
      (ts("2025-06-07T00:00:04Z"), "NSW1", None: Option[Double], 0.0, 1.0),
      (ts("2025-06-07T00:00:08Z"), "NSW1", Some(0.2), 0.0, 1.0),
      // region QLD1 must start from 0 again
      (ts("2025-06-07T00:00:00Z"), "QLD1", Some(-0.5), 0.0, 1.0),
      // filtered out by quality flag
      (ts("2025-06-07T00:00:12Z"), "NSW1", Some(9.9), 0.0, 0.0)
    ).toDF("MEASUREMENT_DATETIME", "REGIONID", "FREQ_DEVIATION_HZ",
      "FREQ_MEASURE_HZ", "HZ_QUALITY_FLAG")
    val out = Crunch.frequencyMeasure(freq, a)
      .orderBy("region", "ts").collect()
    assert(out.length === 4) // quality-filtered row gone
    val e1 = a * -0.1
    val e3 = (1 - a) * e1 + a * -0.2
    assert(out(0).getDouble(out(0).fieldIndex("freq_measure")) === e1)
    assert(out(1).isNullAt(out(1).fieldIndex("freq_measure"))) // null passes
    assert(out(2).getDouble(out(2).fieldIndex("freq_measure")) === e3) // state not advanced by null
    assert(out(3).getDouble(out(3).fieldIndex("freq_measure")) === a * 0.5) // fresh state per region
  }

  test("latestForecasts: row_number keep-first by RUN_DATETIME desc; origin filter") {
    import spark.implicits._
    val preds = Seq(
      ("D1", ts("2025-06-07T00:05:00Z"), ts("2025-06-07T00:00:00Z"), ts("2025-06-07T00:00:00Z"), "AWEFS_ASEFS", 10.0),
      ("D1", ts("2025-06-07T00:05:00Z"), ts("2025-06-07T00:04:00Z"), ts("2025-06-07T00:00:00Z"), "AWEFS_ASEFS", 20.0), // newer run wins
      ("D1", ts("2025-06-07T00:05:00Z"), ts("2025-06-07T00:04:30Z"), ts("2025-06-07T00:00:00Z"), "OTHER", 99.0) // filtered
    ).toDF("DUID", "INTERVAL_DATETIME", "RUN_DATETIME", "OFFERDATETIME", "ORIGIN", "FORECAST_POE50")
    val out = Crunch.latestForecasts(preds).collect()
    assert(out.length === 1)
    assert(out(0).getDouble(out(0).fieldIndex("FORECAST_POE50")) === 20.0)
  }

  test("step 2: linear interpolation with next→prev→0.0 fence-posts") {
    import spark.implicits._
    // forecasts for D1 at 00:00 (=10) and 00:05 (=20); nothing later
    val preds = Seq(
      ("D1", ts("2025-06-07T00:00:00Z"), ts("2025-06-07T00:00:00Z"), ts("2025-06-07T00:00:00Z"), "AWEFS_ASEFS", 10.0),
      ("D1", ts("2025-06-07T00:05:00Z"), ts("2025-06-07T00:00:00Z"), ts("2025-06-07T00:00:00Z"), "AWEFS_ASEFS", 20.0)
    ).toDF("DUID", "INTERVAL_DATETIME", "RUN_DATETIME", "OFFERDATETIME", "ORIGIN", "FORECAST_POE50")
    val traj = Crunch.hypotheticalTrajectory(spark, preds, "2025-06-07")
    val rows = traj.filter(col("ts").isin(
        ts("2025-06-07T00:00:00Z"), ts("2025-06-07T00:01:00Z"),
        ts("2025-06-07T00:06:00Z"), ts("2025-06-07T12:00:00Z")))
      .orderBy("ts").collect()
    val ref = rows.map(r => r.getDouble(r.fieldIndex("reference_mw")))
    assert(ref(0) === 10.0)              // at boundary: frac 0 → prev
    assert(ref(1) === 10.0 + (20.0 - 10.0) * (60.0 / 300.0)) // interpolated
    assert(ref(2) === 20.0)              // next missing → falls back to prev (flat)
    assert(ref(3) === 0.0)               // far from any forecast: prev null → 0.0
    // spine size: 21600 ticks * 1 duid
    assert(traj.count() === 21600)
  }

  test("steps 5-11: settlement chain with DCF fallback and daily total") {
    import spark.implicits._
    val t0 = ts("2025-06-07T00:00:00Z"); val t1 = ts("2025-06-07T00:00:04Z")
    // two units per interval → step 5 sums them
    val perfSplit = Seq((t0, 2.0, 0.0), (t0, 3.0, -1.0), (t1, 0.0, -4.0))
      .toDF("ts", "raise_perf", "lower_perf")
    val cf = Seq(("C1", t0, 0.5), ("C1", t1, 0.5), ("C2", t0, 0.25))
      .toDF("constraintid", "ts", "contribution_factor")
    val defCf = Seq(("C1", t0, 0.9), ("C1", t1, 0.8), ("C2", t0, 0.7))
      .toDF("constraintid", "ts", "default_contribution_factor")
    val resDcf = Seq(("C1", t0, 0.6)) // only C1@t0 → others fall back to default
      .toDF("constraintid", "ts", "residual_dcf")
    val perfRates = Seq(("C1", t0, 10.0, 20.0), ("C1", t1, 10.0, 20.0), ("C2", t0, 5.0, 5.0))
      .toDF("constraintid", "ts", "fpp_payment_rate", "fpp_recovery_rate")
    val resRates = Seq(("C1", t0, 1.0, 1.0, 1.0))
      .toDF("constraintid", "ts", "fpp", "used_fcas", "unused_fcas")
    val (charges, summary) = Crunch.settlement(perfSplit, cf, defCf, resDcf, perfRates, resRates)
    val byKey = charges.collect().map(r =>
      (r.getAs[String]("constraintid"), r.getAs[java.sql.Timestamp]("ts")) -> r).toMap
    // C1@t0: residuals raise=5, lower=-1; used_dcf=0.6 (residual present)
    //   raise_charge = 5*0.6*10 = 30 ; lower_charge = -1*0.6*20 = -12 → 18
    assert(byKey(("C1", t0)).getAs[Double]("used_dcf") === 0.6)
    assert(byKey(("C1", t0)).getAs[Double]("interval_charge") === 30.0 - 12.0)
    // C1@t1: residuals raise=0, lower=-4; fallback used_dcf=0.8
    //   charge = 0 + (-4*0.8*20) = -64
    assert(byKey(("C1", t1)).getAs[Double]("used_dcf") === 0.8)
    assert(byKey(("C1", t1)).getAs[Double]("interval_charge") === -64.0)
    // C2@t0: fallback 0.7; raise 5*0.7*5=17.5; lower -1*0.7*5=-3.5 → 14
    assert(byKey(("C2", t0)).getAs[Double]("interval_charge") === 14.0)
    assert(summary.head().getDouble(0) === 18.0 - 64.0 + 14.0)
  }

  test("steps 3+4: deviation and sign-split performance") {
    import spark.implicits._
    val traj = Seq(
      (ts("2025-06-07T00:00:00Z"), "D1", 10.0),
      (ts("2025-06-07T00:00:04Z"), "D1", 10.0)
    ).toDF("ts", "duid", "reference_mw")
    val scada = Seq(
      (ts("2025-06-07T00:00:00Z"), "D1", 12.0),
      (ts("2025-06-07T00:00:04Z"), "D1", 9.0)
    ).toDF("MEASUREMENT_DATETIME", "FPP_UNITID", "MEASURED_MW")
    val dev = Crunch.hypotheticalDeviations(traj, scada)
    val fm = Seq(
      (ts("2025-06-07T00:00:00Z"), "NSW1", 0.5),
      (ts("2025-06-07T00:00:04Z"), "NSW1", -0.5)
    ).toDF("ts", "region", "freq_measure")
    val perf = Crunch.performance(dev, fm).orderBy("ts").collect()
    // t0: dev=+2, fm=+0.5 → p_raise=1.0, p_lower=0
    assert(perf(0).getDouble(perf(0).fieldIndex("p_raise")) === 1.0)
    assert(perf(0).getDouble(perf(0).fieldIndex("p_lower")) === 0.0)
    // t1: dev=-1, fm=-0.5 → p_lower=0.5, p_raise=0 (negative fm × negative dev)
    assert(perf(1).getDouble(perf(1).fieldIndex("p_lower")) === 0.5)
    assert(perf(1).getDouble(perf(1).fieldIndex("p_raise")) === -0.0)
  }
}

object CrunchSpec {

  def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  /** A small crunch day, steps 1-4 and the settlement down to the daily
    * charge, over fixtures like the ones above: one region, one unit with
    * forecasts at 00:00 and 00:05, SCADA at three ticks, one constraint. */
  def smallDay(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val t = Seq("2025-06-07T00:00:00Z", "2025-06-07T00:00:04Z", "2025-06-07T00:00:08Z").map(ts)
    val freq = Seq((t(0), "NSW1", 0.10, 0.0, 1.0), (t(1), "NSW1", -0.05, 0.0, 1.0), (t(2), "NSW1", 0.02, 0.0, 1.0))
      .toDF("MEASUREMENT_DATETIME", "REGIONID", "FREQ_DEVIATION_HZ", "FREQ_MEASURE_HZ", "HZ_QUALITY_FLAG")
    val preds = Seq(
      ("D1", t(0), t(0), t(0), "AWEFS_ASEFS", 10.0),
      ("D1", ts("2025-06-07T00:05:00Z"), t(0), t(0), "AWEFS_ASEFS", 20.0))
      .toDF("DUID", "INTERVAL_DATETIME", "RUN_DATETIME", "OFFERDATETIME", "ORIGIN", "FORECAST_POE50")
    val scada = Seq((t(0), "D1", 12.0), (t(1), "D1", 9.5), (t(2), "D1", 10.1))
      .toDF("MEASUREMENT_DATETIME", "FPP_UNITID", "MEASURED_MW")
    val traj = Crunch.hypotheticalTrajectory(spark, preds, "2025-06-07")
    val perf = Crunch.performance(Crunch.hypotheticalDeviations(traj, scada), Crunch.frequencyMeasure(freq))
    val perfSplit = perf.select(col("ts"), col("p_raise").as("raise_perf"), col("p_lower").as("lower_perf"))
    val cf = Seq(("C1", t(0), 0.5)).toDF("constraintid", "ts", "contribution_factor")
    val defCf = Seq(("C1", t(0), 0.9)).toDF("constraintid", "ts", "default_contribution_factor")
    val resDcf = Seq(("C1", t(0), 0.6)).toDF("constraintid", "ts", "residual_dcf")
    val perfRates = Seq(("C1", t(0), 10.0, 20.0)).toDF("constraintid", "ts", "fpp_payment_rate", "fpp_recovery_rate")
    val resRates = Seq(("C1", t(0), 1.0, 1.0, 1.0)).toDF("constraintid", "ts", "fpp", "used_fcas", "unused_fcas")
    Crunch.settlement(perfSplit, cf, defCf, resDcf, perfRates, resRates)._2
  }
}
