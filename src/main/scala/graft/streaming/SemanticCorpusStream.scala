package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** Streaming corpus ingestion gated by SEMANTIC near-duplication — the
  * embedding sibling of [[CorpusStream]] (which gates on minhash): each
  * micro-batch
  *
  *  1. keeps one row per id (vectors carry no cheap within-batch
  *     identity; run [[Dedup.semanticDedup]] over the corpus on
  *     compaction cadence — the same ingest/compactor split as the
  *     minhash loop);
  *  2. probes the accumulated CELL INDEX ([[Dedup.semanticIndex]] rows)
  *     for docs whose meaning already exists
  *     ([[Dedup.incrementalSemanticDedup]] — centroids and the probed
  *     batch rows ride broadcasts, the index is scanned once, never
  *     shuffled; `nprobe` multi-probe covers cell-boundary near-dups);
  *  3. appends only the novel docs to the corpus, and their index rows
  *     to the cell index, so the next batch probes an up-to-date index.
  *
  * Null/absent vectors carry no semantic identity: they dedup by id
  * only, pass to the corpus for review, and never enter the index —
  * the same null-never-matches rule as the text loops.
  *
  * Delivery is exactly-once at batch granularity via the shared
  * [[BatchCommit.tick]] (argument on [[BatchCommit]]); it rolls back
  * the cell index and the corpus before the probe, because a replayed
  * batch's own index rows would otherwise gate its docs out. */
object SemanticCorpusStream {

  def start(spark: SparkSession, docs: DataFrame, idCol: String,
      vecCol: String, corpusDir: String, idxDir: String,
      checkpointDir: String, centroids: Seq[Array[Double]],
      minCosine: Double, nprobe: Int = 2): StreamingQuery =
    BatchCommit.start(docs, checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, batch, idCol, vecCol, corpusDir, idxDir,
        centroids, minCosine, nprobe, batchId = batchId)
    }

  /** One tick of the semantic ingest loop (factored out so batch jobs
    * and tests drive it directly), committed exactly once on `batchId`
    * by [[BatchCommit.tick]]. Returns the number of novel docs kept.
    *
    * Hygiene mirrors [[CorpusStream.ingestBatch]]: the tick persists
    * only the novel frame (it feeds the corpus append, the index append
    * and the count) and releases exactly its own persist on exit. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, corpusDir: String, idxDir: String,
      centroids: Seq[Array[Double]], minCosine: Double,
      nprobe: Int = 2, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    BatchCommit.tick(spark.sparkContext.hadoopConfiguration, corpusDir,
        batchId, Seq(idxDir, corpusDir)) { publish =>
      val deduped = batch.dropDuplicates(idCol)
      val withVec = deduped.filter(col(vecCol).isNotNull)
      val novel = (BatchCommit.readPublished(spark, idxDir) match {
        case Some(idx) =>
          val dupIds = Dedup.incrementalSemanticDedup(withVec, idx,
              idCol, vecCol, centroids, minCosine, nprobe)
            .select(col("batch_id").as(idCol)).distinct()
          deduped.join(dupIds, Seq(idCol), "left_anti")
        case None => deduped
      }).persist()
      try {
        val n = novel.count()
        if (n > 0) {
          publish(novel, corpusDir)
          publish(Dedup.semanticIndex(
            novel.filter(col(vecCol).isNotNull), idCol, vecCol, centroids), idxDir)
        }
        n
      } finally novel.unpersist(blocking = false)
    }
  }
}
