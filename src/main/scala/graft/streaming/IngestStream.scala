package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.HistoryTable

/** Operational streaming (reference §2.8): the scrape→download→process
  * daemon loop (/root/reference/src/main.rs:39-74) re-expressed as
  * Structured Streaming over a landing directory.
  *
  * Files dropped into `landingDir` are discovered by the file source
  * (which replaces the reference's mpsc channels + worker pools — Spark's
  * scheduler provides the parallelism), each micro-batch's paths are
  * collected and handed to the daemon's landed-files step
  * ([[IngestDaemon.processLanded]]): gated on the driver against the
  * `processed` history (idempotent re-processing skip, main.rs:248-250),
  * split into the parquet lake and recorded. `AvailableNow`
  * drains the backlog and stops — the 60 s daemon cadence is
  * `Trigger.ProcessingTime("60 seconds")` in production.
  */
object IngestStream {

  def start(spark: SparkSession, landingDir: String, lakeRoot: String,
      historyRoot: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val history = HistoryTable.processed(spark, historyRoot)
    val files = landingFiles(spark, landingDir, "*.{csv,CSV,zip,ZIP}").select(col("path"))
    BatchCommit.start(files, checkpoint, trigger) { (batch, _) =>
      IngestDaemon.processLanded(spark, history, batch.collect().toIndexedSeq.map(_.getString(0)), lakeRoot)
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
