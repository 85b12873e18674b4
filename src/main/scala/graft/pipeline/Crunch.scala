package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import graft.operators.Ewma
import java.time.LocalDateTime

/** The reference's analytics pipeline (`/root/reference/src/bin/
  * crunch.rs:28-511`, spec `calcs.md:1-264`): recompute FPP performance
  * under a hypothetical forecast scenario. Four DataFrame-to-DataFrame
  * steps; every reference `collect → write` boundary is just a returned
  * (lazily planned) frame here — Catalyst sees the whole step.
  *
  * Corner cases per SURVEY.md §7.4:
  *  - EWMA: state resets per region, null freq_dev emits null without
  *    advancing state (delegated to [[graft.operators.Ewma]]); α is a
  *    parameter (code used 2/9, spec 0.05).
  *  - keep-first dedup = `row_number` over explicit ordering, never
  *    `dropDuplicates` after sort (nondeterministic in Spark).
  *  - interpolation: `next` falls back to `prev`, `prev` to 0.0; spine is
  *    `[00:00:00, 23:59:56]` inclusive (4 s grid, crunch.rs:349-370).
  */
object Crunch {

  val DefaultAlpha: Double = 2.0 / 9.0 // crunch.rs:229; calcs.md:48 says 0.05

  /** Step 1 — regional frequency measure (crunch.rs:220-294):
    * quality-filter, then EWMA of the negated deviation per region. */
  def frequencyMeasure(freq: DataFrame, alpha: Double = DefaultAlpha): DataFrame = {
    val base = freq
      .filter(col("HZ_QUALITY_FLAG") === 1)
      .select(col("MEASUREMENT_DATETIME").as("ts"),
        col("REGIONID").as("region"),
        col("FREQ_DEVIATION_HZ").as("freq_dev"),
        col("FREQ_MEASURE_HZ").as("aemo_freq_measure"))
      .withColumn("neg_dev", -col("freq_dev"))
    Ewma.withEwma(base, "region", Seq("ts"), "neg_dev", alpha, "freq_measure")
      .drop("neg_dev")
  }

  /** Keep latest forecast per (DUID, INTERVAL_DATETIME) —
    * crunch.rs:338-346 (sort RUN_DATETIME desc, unique keep-first). */
  def latestForecasts(preds: DataFrame): DataFrame = {
    val w = Window.partitionBy("DUID", "INTERVAL_DATETIME")
      .orderBy(col("RUN_DATETIME").desc, col("OFFERDATETIME").desc)
    preds
      .filter(col("ORIGIN") === "AWEFS_ASEFS")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  private val SpineStepMicros = 4000000L

  /** 4-second spine for one day: [00:00:00, 23:59:56] inclusive
    * (crunch.rs:349-370), both ends read in the session time zone as
    * `to_timestamp` reads them (a wall time in a DST gap moves forward,
    * one in an overlap takes the earlier offset), so a DST day has
    * 20,700 or 22,500 ticks. `spark.range` over the tick numbers with the
    * timestamp computed per row: the spine is split over the session's
    * default parallelism, where `explode(sequence(…))` of one row held
    * every tick in one partition. */
  def daySpine(spark: org.apache.spark.sql.SparkSession, date: String): DataFrame = {
    val zone = DateTimeUtils.getZoneId(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    def micros(time: String): Long =
      DateTimeUtils.instantToMicros(LocalDateTime.parse(s"${date}T$time").atZone(zone).toInstant)
    val start = micros("00:00:00")
    val ticks = Math.floorDiv(micros("23:59:56") - start, SpineStepMicros) + 1
    spark.range(0, ticks).select(timestamp_micros(lit(start) + col("id") * SpineStepMicros).as("ts"))
  }

  private def trunc5m(c: Column): Column =
    timestamp_micros((unix_micros(c) / 300000000L).cast("long") * 300000000L)

  /** Step 2 — hypothetical reference trajectory (crunch.rs:324-452):
    * densify latest forecasts onto the 4 s grid per DUID with linear
    * interpolation between the bracketing 5-min points. The latest
    * forecasts feed three branches (units, previous and next point); AQE
    * reuses the exchanges they have in common, and they are not cached,
    * so nothing is left for the caller to release. */
  def hypotheticalTrajectory(spark: org.apache.spark.sql.SparkSession,
      preds: DataFrame, date: String): DataFrame = {
    val latest = latestForecasts(preds)
      .select(col("DUID").as("duid"), col("INTERVAL_DATETIME").as("ts_5m"),
        col("FORECAST_POE50").as("poe50"))
    val duids = latest.select(col("duid")).distinct()
    val grid = daySpine(spark, date).crossJoin(broadcast(duids))
    val prevF = latest.select(col("duid").as("p_duid"), col("ts_5m").as("p_ts"),
      col("poe50").as("prev_target"))
    val nextF = latest.select(col("duid").as("n_duid"), col("ts_5m").as("n_ts"),
      col("poe50").as("next_target"))
    grid
      .withColumn("ts_5m", trunc5m(col("ts")))
      .join(prevF, col("duid") === col("p_duid") && col("ts_5m") === col("p_ts"), "left")
      .join(nextF, col("duid") === col("n_duid")
        && (col("ts_5m") + expr("INTERVAL 5 MINUTES")) === col("n_ts"), "left")
      .withColumn("frac",
        coalesce((unix_millis(col("ts")) - unix_millis(col("ts_5m"))).cast("double")
          / lit(300000.0), lit(0.0)))
      // fence-posts (crunch.rs:432-440): next←prev, prev←0.0
      .withColumn("p0", coalesce(col("prev_target"), lit(0.0)))
      .withColumn("n0", coalesce(col("next_target"), col("prev_target"), lit(0.0)))
      .select(col("ts"), col("duid"),
        (col("p0") + (col("n0") - col("p0")) * col("frac")).as("reference_mw"))
  }

  /** Step 3 — hypothetical deviations (crunch.rs:455-511): trajectory ⨝
    * SCADA on (ts, duid); deviation = measured − reference. */
  def hypotheticalDeviations(trajectory: DataFrame, scada: DataFrame): DataFrame = {
    val sc = scada.select(col("MEASUREMENT_DATETIME").as("ts"),
      col("FPP_UNITID").as("duid"), col("MEASURED_MW").as("measured_mw"))
    trajectory.join(sc, Seq("ts", "duid"))
      .withColumn("deviation", col("measured_mw") - col("reference_mw"))
  }

  /** Actual deviations straight from FPP---UNIT_MW---1 (crunch.rs:298-321). */
  def actualDeviations(unitMw: DataFrame): DataFrame =
    unitMw.select(col("MEASUREMENT_DATETIME").as("ts"),
      col("FPP_UNITID").as("duid"), col("DEVIATION_MW").as("deviation"))

  /** Steps 5-11 — the FPP settlement tail (spec calcs.md:112-254):
    * residual aggregation → contribution-factor alignment → DCF overlay
    * with default fallback → MW-weighting → dollar rates → daily charge.
    * Input column names follow the spec (lowercase).
    *
    * Shapes: one groupBy on ts (map-side combined), then a chain of
    * left equi-joins on (constraintid, ts) — constraint dimensions are
    * small and broadcast — and one global agg. Returns
    * (interval_charges, daily_summary).
    */
  def settlement(
      perfSplit: DataFrame,   // ts, raise_perf, lower_perf  (from step 4)
      cf: DataFrame,          // constraintid, ts, contribution_factor
      defaultCf: DataFrame,   // constraintid, ts, default_contribution_factor
      residualDcf: DataFrame, // constraintid, ts, residual_dcf
      perfRates: DataFrame,   // constraintid, ts, fpp_payment_rate, fpp_recovery_rate
      resRates: DataFrame     // constraintid, ts, fpp, used_fcas, unused_fcas
  ): (DataFrame, DataFrame) = {
    // step 5: per-interval residual summary
    val residualSummary = perfSplit.groupBy("ts").agg(
      sum(col("raise_perf")).as("raise_residual_perf"),
      sum(col("lower_perf")).as("lower_residual_perf"))
    // steps 6-7: align each constraint's CF with the interval residuals
    val resCf = cf.join(residualSummary, Seq("ts"), "left")
    // step 8: DCF overlay, residual-DCF falls back to default CF
    val withDcf = resCf
      .join(defaultCf, Seq("constraintid", "ts"), "left")
      .join(residualDcf, Seq("constraintid", "ts"), "left")
      .withColumn("used_dcf",
        coalesce(col("residual_dcf"), col("default_contribution_factor")))
    // step 9: MW-weighted CF
    val weighted = withDcf
      .withColumn("weighted_raise_cf", col("raise_residual_perf") * col("used_dcf"))
      .withColumn("weighted_lower_cf", col("lower_residual_perf") * col("used_dcf"))
    // step 10: dollar charges
    val charges = weighted
      .join(perfRates, Seq("constraintid", "ts"), "left")
      .join(resRates, Seq("constraintid", "ts"), "left")
      .withColumn("raise_charge", col("weighted_raise_cf") * col("fpp_payment_rate"))
      .withColumn("lower_charge", col("weighted_lower_cf") * col("fpp_recovery_rate"))
      .withColumn("interval_charge", col("raise_charge") + col("lower_charge"))
    // step 11: single-row daily total
    val summary = charges.agg(sum(col("interval_charge")).as("total_fpp_charge"))
    (charges, summary)
  }

  /** Step 4 — performance (crunch.rs:93-176): deviations ⟕ freq-measure of
    * one region on ts; split by frequency-measure sign. The frame is
    * unordered: the reference's sort by (ts, duid) belongs to its file
    * output, so a caller that needs an order sorts (settlement sums per
    * ts and needs none). */
  def performance(deviations: DataFrame, freqMeasure: DataFrame,
      region: String = "NSW1"): DataFrame = {
    val fm = freqMeasure.filter(col("region") === region)
      .select(col("ts"), col("freq_measure"))
    deviations.join(fm, Seq("ts"), "left")
      .withColumn("p_lower",
        when(col("freq_measure") < 0, col("freq_measure")).otherwise(lit(0.0)) * col("deviation"))
      .withColumn("p_raise",
        when(col("freq_measure") > 0, col("freq_measure")).otherwise(lit(0.0)) * col("deviation"))
  }
}
