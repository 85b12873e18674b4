package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** Streaming corpus ingestion gated by EXACT SUBSTRING dedup — the
  * third gating modality next to [[CorpusStream]] (minhash near-dup)
  * and [[SemanticCorpusStream]] (embedding near-dup): each micro-batch
  *
  *  1. keeps one row per id;
  *  2. strips from every batch doc each ≥ `windowWords`-word passage
  *     already present in the accumulated WINDOW-FINGERPRINT index
  *     ([[Dedup.windowFingerprints]] rows, probed by
  *     [[Dedup.incrementalSubstringDedup]] — batch keys broadcast into
  *     one index scan, the corpus-sized index is never shuffled);
  *  3. appends the surviving docs (their cleaned, reassembled text) to
  *     the corpus, and their NOVEL window keys to the index, so the
  *     next batch probes an up-to-date fingerprint set. A doc whose
  *     every token is covered (an exact or passage-complete replay)
  *     is dropped whole.
  *
  * Published text is the normalized uncovered-token reassembly
  * (`clean_text`) in EVERY branch — the first batch probes an empty
  * key frame rather than skipping the probe, so corpus rows never mix
  * raw and normalized forms. Empty/whitespace text normalizes to one
  * empty token, so such docs flow through the survivor branch with
  * `clean_text = ""` (published and counted; too short to window, so
  * they never enter the index). Null-text docs carry no substring
  * identity: they dedup by id only, pass to the corpus for review,
  * and never enter the index — the same null-never-matches rule as
  * the other ingest loops.
  *
  * Index hygiene: appended keys are anti-joined against the existing
  * index via the same broadcast shape as the probe (batch keys are
  * small by the ingest contract), so the stored index stays DISTINCT
  * under any replay/overlap pattern — compactions stay plain rewrites.
  *
  * Delivery is exactly-once at batch granularity via the shared
  * [[BatchCommit.tick]] (argument on [[BatchCommit]]); it rolls back
  * the key index and the corpus before the probe, because a replayed
  * batch's own index rows would otherwise strip its docs to nothing. */
object SubstringStream {

  def start(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, corpusDir: String, idxDir: String,
      checkpointDir: String, windowWords: Int = 20): StreamingQuery =
    BatchCommit.start(docs, checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, batch, idCol, textCol, corpusDir, idxDir,
        windowWords, batchId = batchId)
    }

  /** One tick of the substring ingest loop (factored out so batch jobs
    * and tests drive it directly), committed exactly once on `batchId`
    * by [[BatchCommit.tick]]. Returns the number of docs kept (cleaned
    * survivors + null-text pass-throughs).
    *
    * Hygiene mirrors the sibling loops: the tick persists exactly one
    * doc-bounded frame — the kept frame (feeds the corpus append, the
    * key append and the count) — and releases it on exit. The tick
    * makes ONE width-regime decision (from the deduped text batch) and
    * threads it into both the index probe and the key append, so a
    * tick is wholly in one regime even when the batch straddles the
    * widening threshold. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, corpusDir: String, idxDir: String,
      windowWords: Int = 20, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    BatchCommit.tick(spark.sparkContext.hadoopConfiguration, corpusDir,
        batchId, Seq(idxDir, corpusDir)) { publish =>
      val deduped = batch.dropDuplicates(idCol)
      val withText = deduped.filter(col(textCol).isNotNull)
      val nullText = deduped.filter(col(textCol).isNull)
        .select(col(idCol), col(textCol).cast("string").as(textCol))
      // first batch: probe an empty key frame, same path
      val index = BatchCommit.readPublished(spark, idxDir).getOrElse {
        import spark.implicits._
        Seq.empty[String].toDF("wkey")
      }
      // ONE regime decision per tick: the probe below and the key-append
      // joins in the publish block must agree on broadcast-vs-shuffle, so
      // the width is derived once here (from the text batch) and threaded
      // into both — deciding each independently could straddle the
      // threshold within a single tick (result-identical, but two regimes
      // in one tick complicates adjudication of its plan).
      val tickWidth = graft.GraftSession.explodeWidth(withText, expansion = 16.0)
      val cleaned = Dedup.incrementalSubstringDedup(
        withText, index, idCol, textCol, windowWords, tickWidth)
      // survivors keep their normalized uncovered reassembly; a fully
      // covered doc (n_kept = 0) is a replay and drops whole. Every
      // withText doc has a probe row — empty/whitespace text normalizes
      // to one empty token (n_kept = 1, clean_text = ""), so token-less
      // docs survive here; there is no silent-drop path to guard.
      val kept = cleaned.filter(col("n_kept") > 0)
        .select(col("id").as(idCol), col("clean_text").as(textCol))
        .unionByName(nullText)
        .persist()
      try {
        val n = kept.count()
        if (n > 0) {
          val keptKeys = Dedup.windowFingerprints(
            kept.filter(col(textCol).isNotNull), idCol, textCol, windowWords,
            tickWidth)
          // novel keys only: probe-shaped anti (batch keys broadcast into
          // one index scan; hits re-broadcast) keeps the index DISTINCT
          // without ever shuffling it. Regime split is the tick-level
          // decision above, shared with the probe: a corpus-sized
          // backfill batch driven through this entry point would
          // otherwise collect its whole key set to the driver
          // (maxResultSize) — beyond fixture, degrade both joins to
          // shuffle joins (the index shuffles once on wkey). Ingest-sized
          // batches keep the two broadcasts; fixture plans byte-identical.
          val maybeBcast: DataFrame => DataFrame =
            if (tickWidth.isEmpty) broadcast else identity
          val hitKeys = index.select(col("wkey"))
            .join(maybeBcast(keptKeys), Seq("wkey"), "left_semi").distinct()
          val novelKeys = keptKeys.join(maybeBcast(hitKeys), Seq("wkey"), "left_anti")
          publish(kept, corpusDir)
          publish(novelKeys, idxDir)
        }
        n
      } finally {
        kept.unpersist(blocking = false)
      }
    }
  }
}
