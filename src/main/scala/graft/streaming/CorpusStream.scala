package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** Streaming corpus ingestion with near-dup gating — the per-arrival
  * composition the batch operators were shaped for: each micro-batch
  *
  *  1. drops exact duplicates WITHIN the batch ([[Dedup.exactDedup]]
  *     over the non-null-text rows; null-text docs have no content
  *     identity, so they dedup by id only and never collapse with each
  *     other — the same null-never-matches rule as
  *     [[Dedup.incrementalDedup]]);
  *  2. probes the accumulated minhash signature index for near-dups of
  *     anything already ingested ([[Dedup.incrementalNearDup]] — batch
  *     side broadcasts, the index is scanned, never shuffled);
  *  3. appends only the novel docs to the corpus, and their signatures
  *     to the index, so the next batch probes an up-to-date index;
  *  4. (optional, `statsDir`) appends the novel docs' PARTIAL count-min
  *     sketch — streaming statistics maintenance: corpus-wide token
  *     frequencies stay queryable ([[readTokenStats]]) at the cost of
  *     one fixed-grid aggregation per tick, no corpus rescan ever.
  *
  * The index is a plain parquet table of [[Dedup.minhashSignature]]
  * rows — the materialization [[Dedup.bandIndex]] derives from, and the
  * thing a 100 TB pipeline maintains INSTEAD of re-banding the corpus
  * per arrival. Near-dups WITHIN a micro-batch are deliberately not
  * chased (batch-local LSH on a trigger's worth of docs buys little and
  * costs a self-join per tick); run the batch near-dup pass over the
  * corpus on compaction cadence instead — the same split the reference
  * uses between its ingest loop and its compactor.
  *
  * Delivery is exactly-once at batch granularity via the shared
  * [[BatchCommit.tick]] (batch-prefixed publishes, rollback of a
  * partial publish before the index probe, atomic marker under
  * `<corpusDir>/_graft_commits/`); the argument is on [[BatchCommit]].
  */
object CorpusStream {

  def start(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, corpusDir: String, sigDir: String,
      checkpointDir: String,
      shingleLen: Int = 3, numHashes: Int = 32, bands: Int = 8,
      minAgree: Double = 0.8,
      statsDir: Option[String] = None,
      statsDepth: Int = 4, statsWidth: Int = 512,
      statsHllP: Int = 12): StreamingQuery =
    BatchCommit.start(docs, checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, batch, idCol, textCol, corpusDir, sigDir,
        shingleLen, numHashes, bands, minAgree, batchId = batchId,
        statsDir = statsDir, statsDepth = statsDepth, statsWidth = statsWidth,
        statsHllP = statsHllP)
    }

  /** Fold the accumulated per-batch partial sketches into the
    * whole-corpus count-min sketch — the read side of streaming
    * statistics maintenance (`statsDir` on [[start]]/[[ingestBatch]]):
    * the stream pays one fixed-grid aggregation per tick; readers fold
    * `ticks × depth·width` partial rows and never rescan the corpus.
    * Identical to sketching the corpus directly (lossless add-merge —
    * the `ta_cm_merge` property), which StreamingSpec asserts.
    * Layout: `statsDir/cm` holds the count-min partials, `statsDir/hll`
    * the HLL register partials ([[readTokenCardinality]]). */
  def readTokenStats(spark: SparkSession, statsDir: String): DataFrame =
    graft.operators.TextSketches.cmMerge(Seq(spark.read.parquet(s"$statsDir/cm")))

  /** Distinct-token cardinality from the accumulated HLL register
    * partials — the companion read to [[readTokenStats]]: registers
    * merge by per-bucket max ([[graft.operators.TextSketches.hllMerge]]
    * — max is associative AND idempotent, so a replayed tick's partial
    * cannot inflate the fold the way a replayed count row would), and
    * the one-row summary carries the exact register state (m, v_zero,
    * denom) plus the raw HLL estimate — same estimator surface as the
    * `ta_hll_distinct` query. Cost: `ticks × 2^p` register rows folded;
    * the corpus is never rescanned. */
  def readTokenCardinality(spark: SparkSession, statsDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // mergeSchema: the p-stamp check must see EVERY partial's schema —
    // the default single-footer sample could miss the p column entirely
    // when stamped and pre-stamp files coexist (footers here are
    // tick-count-bounded, so the extra reads are noise)
    val raw = spark.read.option("mergeSchema", "true").parquet(s"$statsDir/hll")
    // partials are stamped with the p they were written at (ingestBatch):
    // a max-merge across DIFFERENT p values is silently wrong even when
    // the merged bucket count happens to be a power of two (a dense
    // p=4 grid unioned with a dense p=5 grid is just the p=5 grid), so
    // the stamp — not the fold shape — is the authoritative check
    val (ps: Seq[Int], anyUnstamped: Boolean) =
      if (raw.columns.contains("p")) {
        // rows from pre-stamp files surface p as null under parquet
        // schema merge — treat those as unstamped, don't NPE on getInt
        val d = raw.select("p").distinct().collect()
        (d.flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).sorted.toSeq,
          d.exists(_.isNullAt(0)))
      } else (Seq.empty[Int], false)
    require(ps.lengthCompare(1) <= 0 && !(anyUnstamped && ps.nonEmpty),
      s"HLL partials under $statsDir/hll were written with mixed " +
        s"statsHllP values ${ps.mkString(", ")}" +
        (if (anyUnstamped) " plus unstamped partials" else "") +
        " and cannot be max-merged; rebuild the stats with one p")
    val regs = graft.operators.TextSketches.hllMerge(Seq(raw))
    val m = regs.count() // 2^p, densified by hllRegisters' spine join
    // second line of defense, for unstamped/corrupt partials: the fold
    // must cover a full 2^p bucket grid or numberOfTrailingZeros would
    // derive a silently-wrong exponent
    require(m > 0 && (m & (m - 1)) == 0,
      s"HLL register fold has $m buckets — not a full power-of-two " +
        "grid; the partials under this statsDir are truncated or corrupt")
    ps.headOption.foreach(p0 => require(m == (1L << p0),
      s"HLL register fold has $m buckets but partials declare p=$p0 " +
        s"(expected ${1L << p0}); the partials are truncated or corrupt"))
    val p = java.lang.Long.numberOfTrailingZeros(m)
    // scale exponent x = 62−p: keeps the all-zero-register worst case
    // (denom = m·2^x = 2^62) inside BIGINT for any p, and x − max rho =
    // 62−p − (61−p) = 1 > 0 so every shift is non-negative
    val x = 62 - p
    regs.agg(
        count(lit(1)).as("m"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v_zero"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $x - rho)")).as("denom"))
      .withColumn("est_raw",
        lit(0.7213 / (1.0 + 1.079 / m)) * lit(m.toDouble * m.toDouble) *
          lit(math.pow(2.0, x)) / col("denom").cast("double"))
  }

  /** One tick of the ingest loop (factored out so batch jobs and tests
    * can drive it directly), committed exactly once on `batchId` by
    * [[BatchCommit.tick]]. Returns the number of novel docs kept.
    *
    * Per-tick cost and hygiene: the batch is shingled and minhashed
    * exactly ONCE (`batchSig` feeds the index probe, the verify pass AND
    * the signature append via a semi-join — not a second tokenization),
    * and the tick ends by releasing exactly ITS OWN persists — the batch
    * signatures, the novel-docs frame, and the operator-internal shingle
    * postings (tracked via [[Dedup.minhashSignatureWithPosts]]). Cached
    * work co-resident in the session survives a tick untouched (the r6
    * design swept the whole session cache instead, silently destroying
    * any co-resident cached frames). */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, corpusDir: String, sigDir: String,
      shingleLen: Int, numHashes: Int, bands: Int,
      minAgree: Double, batchId: Long,
      statsDir: Option[String] = None,
      statsDepth: Int = 4, statsWidth: Int = 512,
      statsHllP: Int = 12): Long = {
    if (batch.isEmpty) return 0L
    val statsDirs = statsDir.toSeq.flatMap(sd => Seq(s"$sd/cm", s"$sd/hll"))
    BatchCommit.tick(spark.sparkContext.hadoopConfiguration, corpusDir,
        batchId, Seq(sigDir, corpusDir) ++ statsDirs) { publish =>
      // null-text docs carry no content identity: keep one row per id
      // (never collapse distinct docs on a shared null hash) and skip the
      // signature machinery — they pass to the corpus for review but never
      // enter the index
      val deduped = Dedup.exactDedup(batch.filter(col(textCol).isNotNull), idCol, textCol)
        .unionByName(batch.filter(col(textCol).isNull).dropDuplicates(idCol))
      val (batchSig0, posts) = Dedup.minhashSignatureWithPosts(
        deduped, idCol, textCol, shingleLen, numHashes)
      val batchSig = batchSig0.persist()
      val novel = (BatchCommit.readPublished(spark, sigDir) match {
        case Some(sig) =>
          val dupIds = Dedup.incrementalNearDupFromSig(batchSig, sig, idCol,
              numHashes, bands, minAgree)
            .select(col("batch_id").as(idCol)).distinct()
          deduped.join(dupIds, Seq(idCol), "left_anti")
        case None => deduped
      // cache: novel feeds the corpus append, the signature append and
      // the count; without it the index probe would run three times
      }).persist()
      try {
        val n = novel.count()
        if (n > 0) {
          publish(novel, corpusDir)
          publish(batchSig.join(novel.select(col(idCol)), Seq(idCol), "left_semi"),
            sigDir)
          // streaming statistics maintenance: each tick appends the NOVEL
          // docs' partial count-min sketch AND HLL register partial (both
          // fixed-grid, corpus-size-independent) under the same batch-
          // prefixed commit protocol — readers fold partials
          // ([[readTokenStats]]/[[readTokenCardinality]]) and never rescan
          // the corpus. HLL merge is idempotent max, so even a re-published
          // partial could never inflate the cardinality.
          statsDir.foreach { sd =>
            val toks = novel.select(explode(split(
              graft.operators.TextAnalysis.normalize(col(textCol)), " ")).as("tok"))
              .filter(length(col("tok")) > 0)
            publish(graft.operators.TextSketches.countMinSketch(novel, textCol,
              statsDepth, statsWidth), s"$sd/cm")
            // stamp the partial with its p: readTokenCardinality refuses
            // to max-merge partials written at different statsHllP
            publish(graft.operators.TextSketches.hllRegisters(toks, col("tok"), statsHllP)
              .withColumn("p", lit(statsHllP)), s"$sd/hll")
          }
        }
        n
      } finally {
        // release exactly this tick's persists; co-resident session caches
        // are untouched
        novel.unpersist(blocking = false)
        batchSig.unpersist(blocking = false)
        posts.unpersist(blocking = false)
      }
    }
  }
}
