package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.{HistoryTable, NemCsv}

/** Operational streaming (reference §2.8): the scrape→download→process
  * daemon loop (/root/reference/src/main.rs:39-74) re-expressed as
  * Structured Streaming over a landing directory.
  *
  * Files dropped into `landingDir` are discovered by the file source
  * (which replaces the reference's mpsc channels + worker pools — Spark's
  * scheduler provides the parallelism), each micro-batch's `(path,
  * length)` rows are collected, gated on the driver against the
  * `processed` history (idempotent re-processing skip, main.rs:248-250)
  * and split into the parquet lake. `AvailableNow`
  * drains the backlog and stops — the 60 s daemon cadence is
  * `Trigger.ProcessingTime("60 seconds")` in production.
  */
object IngestStream {

  def start(spark: SparkSession, landingDir: String, lakeRoot: String,
      historyRoot: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val history = HistoryTable.processed(spark, historyRoot)
    val files = landingFiles(spark, landingDir, "*.{csv,CSV,zip,ZIP}")
      .select(col("path"), col("length"))
    BatchCommit.start(files, checkpoint, trigger) { (batch, batchId) =>
      val landed = batch.collect().toIndexedSeq.map(r => (r.getString(0), r.getLong(1)))
      val freshPaths = history.filterNew(landed.map(_._1)).toSet
      val fresh = landed.filter(f => freshPaths.contains(f._1))
      if (fresh.nonEmpty) {
        NemCsv.splitToLake(spark, fresh.map(_._1), lakeRoot)
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        import spark.implicits._
        history.add(fresh.toDF("filename", "size_bytes")
          .withColumn("processed_at", lit(now))
          .withColumn("batch_id", lit(batchId)))
      }
    }
  }

  /** Files landing in `dir` whose names match `glob`, as a `binaryFile`
    * stream — the discovery source of this loop and [[MediaStream]]. */
  private[streaming] def landingFiles(spark: SparkSession, dir: String,
      glob: String): DataFrame =
    spark.readStream
      .format("binaryFile")
      // streaming sources need an explicit schema; this is binaryFile's
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", glob)
      .load(dir)
}
