package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic synthetic MEDIA lake generator — the multimodal sibling
  * of [[GenCorpus]]: writes `media.parquet` (doc_id, modality, payload)
  * with REAL codec bytes (genuine PNG / RIFF-WAVE / animated-GIF
  * containers written through the same JDK SPIs the decode kernels read
  * back), so the multimodal operators can be probed at millions of rows
  * instead of the registry fixtures' `limit(≤512)`.
  *
  * Layout (interleaved by doc_id mod 3, `nPer` rows per modality):
  *  - image: 4×4 PNG, pixel pattern seeded by doc_id
  *    ([[graft.multimodal.Multimodal.synthesizePngPattern]] — the
  *    pattern is periodic in seed mod 256, so a million-image lake has
  *    256 identical-image classes: the DEGENERATE dup profile that
  *    forces the near-dup family's oversized-bucket degrade);
  *  - audio: 1,024-sample 16-bit PCM WAV seeded by doc_id mod 65536
  *    ([[graft.multimodal.Audio.synthesizeWavPattern]] — seed enters
  *    the sample formula mod 65536, so dup classes are ~nPer/65536
  *    rows: the BOUNDED dup profile a healthy lake has);
  *  - video: 4×4 3-frame animated GIF seeded by doc_id
  *    ([[graft.multimodal.Video.synthesizeGifPattern]] — the 3× frame
  *    fan-out probe's input).
  *
  * Generation is a pure function of doc_id (same bytes every run) and
  * runs scan-parallel (mapPartitions over spark.range slices).
  *
  * Usage: `runMain graft.tools.GenMedia <outDir> [nPerModality]`. */
object GenMedia {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nPer = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val cpus = graft.GraftSession.defaultCores
    val spark = graft.GraftSession.local(cpus)

    val n = 3L * nPer
    // one slice per core x4 so the codec-encode work stays balanced
    val ids = spark.range(0L, n, 1L, cpus * 4)
      .select(col("id").as("doc_id"))
    val m = col("doc_id") % 3
    val png = graft.multimodal.Multimodal.synthesizePngPattern(
        ids.filter(m === 0), "doc_id", 4, 4)
      .withColumn("modality", lit("image"))
    val wav = graft.multimodal.Audio.synthesizeWavPattern(
        ids.filter(m === 1).withColumn("seed", col("doc_id") % 65536L), "seed",
        nSamples = 1024, sampleRate = 8000)
      .drop("seed")
      .withColumn("modality", lit("audio"))
    val gif = graft.multimodal.Video.synthesizeGifPattern(
        ids.filter(m === 2), "doc_id", 4, 4, nFrames = 3)
      .withColumn("modality", lit("video"))
    png.unionByName(wav).unionByName(gif)
      .select("doc_id", "modality", "payload")
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
    println(s"[genmedia] wrote ${n} media rows (${nPer} per modality) to $outDir")
    spark.stop()
  }
}
