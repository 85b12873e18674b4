package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path
import graft.multimodal.Multimodal

/** Streaming MULTIMODAL ingest — the media sibling of [[IngestStream]]:
  * raw image/audio/video files dropped into a landing directory are
  * discovered by the `binaryFile` streaming source, header-sniffed by
  * [[Multimodal.routeModality]] (no pixel/sample decode on the ingest
  * path), and appended to a modality-partitioned parquet lake with
  * their per-modality metadata and content digest. Downstream decode
  * kernels ([[graft.multimodal.Audio.audioFeatures]],
  * [[graft.multimodal.Video.videoFrameFeatures]],
  * `Multimodal.imageFeatures`) then read ONLY their own partition —
  * `modality=image/` etc. prunes at the directory level, the 100 TB
  * posture for mixed media.
  *
  * Exactly-once at batch granularity, two layers:
  *  - the file source's checkpoint tracks seen files, so a restart
  *    re-lists but re-delivers only unfinished batches (same batchId);
  *  - the shared [[BatchCommit]] protocol makes the re-delivery
  *    idempotent: committed replays no-op on the marker, partial
  *    publishes roll back before the deterministic republish — a crash
  *    between the parquet append and the checkpoint commit cannot
  *    duplicate lake rows.
  *
  * `AvailableNow` drains the backlog and stops; production cadence is a
  * ProcessingTime trigger, same contract as the reference's daemon. */
object MediaStream {

  /** Default ingest glob: EVERYTHING. Containers no JDK SPI sniffs
    * (mp4/webm/…) land routed `unknown` rather than being silently
    * excluded at the listing — a glob that names extensions would make
    * the file source skip (and permanently mark seen) anything it
    * doesn't list. Narrow via the `glob` parameter only when the
    * landing dir is shared with non-media producers. */
  val DefaultGlob = "*"

  /** Closed routing range of [[Multimodal.routeModality]] — rollback
    * must sweep every possible partition dir of a half-published batch
    * BEFORE knowing what the batch contains. */
  private val Modalities = Seq("image", "video", "audio", "unknown")

  private def partDir(lakeDir: String, modality: String) =
    s"$lakeDir/modality=$modality"

  /** One routed, committed batch — a [[BatchCommit.tick]] that rolls
    * back every modality partition. Routed rows publish per modality
    * partition under batch-prefixed names; the marker under
    * `lakeDir/_graft_commits` is the commit point. Returns rows ingested
    * (0 for a committed replay). Deterministic given (batch, batchId),
    * which is what makes the republish byte-safe. */
  def ingestBatch(batch: DataFrame, lakeDir: String, batchId: Long): Long =
    BatchCommit.tick(batch.sparkSession.sparkContext.hadoopConfiguration,
        lakeDir, batchId, Modalities.map(partDir(lakeDir, _))) { publish =>
      val routed = Multimodal.routeModality(batch, "content")
        .withColumn("digest", md5(col("content")))
        .select("path", "length", "modality", "width", "height",
          "n_frames", "sample_rate", "n_samples", "digest")
        .persist()
      try {
        val n = routed.count()
        val present = routed.select("modality").distinct().collect().map(_.getString(0))
        present.foreach { m =>
          publish(routed.filter(col("modality") === m).drop("modality"),
            partDir(lakeDir, m))
        }
        n
      } finally routed.unpersist(blocking = false) // this tick's cache only
    }

  /** NOTE on `maxBytes`: the length predicate pushes into the binaryFile
    * scan, so oversize content is never read — but the source still
    * marks those files seen, so they are PERMANENTLY skipped, not
    * retried. That is deliberate (a 10 GB object must not ride a row);
    * operators audit the skip set with [[oversizeAudit]], which lists
    * oversize landing files from directory metadata alone. */
  def start(spark: SparkSession, landingDir: String, lakeDir: String,
      checkpoint: String, glob: String = DefaultGlob,
      maxBytes: Long = 256L * 1024 * 1024,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchCommit.start(
      IngestStream.landingFiles(spark, landingDir, glob)
        .filter(col("length") <= maxBytes),
      checkpoint, trigger)((batch, batchId) => ingestBatch(batch, lakeDir, batchId))

  /** The skip set [[start]]'s `maxBytes` guard excludes, from listing
    * metadata only (no content read): (path, length) of every landing
    * file over the threshold. Run it on the ingest cadence and alert on
    * growth — oversize objects need a chunked ingest path, not a bigger
    * row. */
  def oversizeAudit(spark: SparkSession, landingDir: String,
      maxBytes: Long = 256L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(landingDir)
    val fs = root.getFileSystem(conf)
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getLen > maxBytes)
          found += ((st.getPath.toString, st.getLen))
      }
    }
    found.toSeq.toDF("path", "length")
  }

  /** The routed lake back as a DataFrame — partition column `modality`
    * restored by the reader; filters on it prune directories. Only
    * batch-prefixed COMMITTED files exist under the partition dirs
    * (uncommitted partials are rolled back on replay; `_graft_commits`
    * is underscore-hidden from the reader). */
  def readLake(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.parquet(lakeDir)
}
