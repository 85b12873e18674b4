package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Beyond-fixture probes of the MULTIMODAL family over a [[GenMedia]]
  * lake — the registry's mm_* entries cap their inputs (`limit(≤512)`,
  * the oracle-checkable fixture contract), so scale evidence needs
  * probes that drive the operators over the full media table:
  *
  *  - `route`: header-sniff modality routing over the whole mixed lake
  *    (the cheap scan that partitions 100 TB by modality — no decode);
  *  - `image_features`: real PNG decode + luma-grid features per image
  *    row ([[graft.multimodal.Multimodal.imageFeatures]]);
  *  - `audio_features`: real RIFF/PCM decode + frame-energy envelope
  *    ([[graft.multimodal.Audio.audioFeatures]]);
  *  - `video_frames`: container parse + per-frame decode + frame
  *    fan-out ([[graft.multimodal.Video.videoFrameFeatures]] — 3 output
  *    rows per GIF, the expansion-class operator);
  *  - `image_neardup`: decode → centered features → LSH-banded near-dup
  *    at the mm_image_neardup parameters; the PNG pattern is periodic
  *    mod 256, so a 1M-image lake is 256 identical-image classes and
  *    every band bucket is oversized — probes the maxBucket REP-STAR
  *    degrade (pairs stay linear, never quadratic);
  *  - `audio_neardup`: decode → centered envelope → near-dup with the
  *    banding SCALED to corpus size (numPlanes 64 / bandBits 16, per
  *    the operator's "raise band bits with corpus" note) — dup classes
  *    are bounded (seed mod 65536), so this is the healthy-lake path.
  *
  * Consumed payload columns are dropped before the noop force so the
  * probe measures decode + operator cost, not re-sinking the lake.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.MediaProbe <probe> <mediaDir> [n] */
object MediaProbe {

  private def media(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/media.parquet")

  val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "route" -> ((s, d) =>
      graft.multimodal.Multimodal.routeModality(media(s, d), "payload")
        .drop("payload")),
    "image_features" -> ((s, d) =>
      graft.multimodal.Multimodal.imageFeatures(
          media(s, d).filter(col("modality") === "image"), "payload", grid = 4)
        .drop("payload")),
    "audio_features" -> ((s, d) =>
      graft.multimodal.Audio.audioFeatures(
          media(s, d).filter(col("modality") === "audio"), "payload", frameLen = 64)
        .drop("payload")),
    "video_frames" -> ((s, d) =>
      graft.multimodal.Video.videoFrameFeatures(
          media(s, d).filter(col("modality") === "video"), "payload", grid = 4)
        .drop("payload")),
    "image_neardup" -> ((s, d) => {
      val feats = graft.multimodal.Multimodal.imageFeatures(
          media(s, d).filter(col("modality") === "image"), "payload", grid = 4)
        .filter(col("img_features").isNotNull)
        .select(col("doc_id"),
          transform(col("img_features"), x => x - lit(0.5)).as("centered"))
      graft.operators.Dedup.embeddingNearDupPairs(feats, "doc_id", "centered",
          dim = 16, minCosine = 0.999, numPlanes = 8, bandBits = 2)
        .select("id_a", "id_b")
    }),
    "audio_neardup" -> ((s, d) => {
      val feats = graft.multimodal.Audio.audioFeatures(
          media(s, d).filter(col("modality") === "audio"), "payload", frameLen = 64)
        .filter(col("frame_energy").isNotNull)
        .select(col("doc_id"),
          transform(col("frame_energy"),
            e => (e - lit(1048576L)).cast("double")).as("centered"))
      graft.operators.Dedup.embeddingNearDupPairs(feats, "doc_id", "centered",
          dim = 16, minCosine = 0.999, numPlanes = 64, bandBits = 16)
        .select("id_a", "id_b")
    }))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error(s"usage: MediaProbe <probe> <mediaDir> [n] — probes: ${probes.keys.toSeq.sorted.mkString(", ")}"))
    val dir = args.lift(1).getOrElse("/tmp/graft_media")
    val n = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = graft.GraftSession.defaultCores
    val spark = graft.GraftSession.local(cpus)
    val fn = probes.getOrElse(name,
      sys.error(s"unknown probe '$name' — keys: ${probes.keys.toSeq.sorted.mkString(", ")}"))
    val stage = StageLog.attach(spark)
    val rt = Runtime.getRuntime
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      graft.Bench.force(fn(spark, dir))
      val s = (System.nanoTime() - t0) / 1e9
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      stage.dump(s"media:$name", i)
      System.err.println(f"[probe] media:$name run $i: $s%7.3f s  heapMB=$heapMb%5d")
    }
    stage.detach()
    println(f"[probe] media:$name done (cpus=$cpus)")
    spark.stop()
  }
}
