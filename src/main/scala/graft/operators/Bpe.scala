package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** BPE tokenizer train/encode — merge-table training (Sennrich et al.)
  * and encoding with a pre-trained merge table ([[BpeMerges]]). Split
  * from [[TextAnalysis]] at the registry-hygiene threshold. One corpus
  * scan collapses the text to its word VOCABULARY; everything after it
  * is bounded by the vocabulary, never the corpus.
  *
  * The greedy merge rule is ONE per-row function, [[applyPicks]]: the
  * driver trainer, the distributed trainer's per-round rewrite and the
  * encoder (per distinct word, [[encodeWord]]) all call it. The engine
  * does the relational parts — adjacent-pair counts (codegen'd explode,
  * map-side-combined groupBy, distributed TakeOrdered), the corpus-side
  * join and the per-doc reassembly — and no plan grows with the merge
  * count.
  */
object Bpe {

  /** Driver regime bound for training (r20): inputs whose optimizer size
    * estimate is under this many bytes train on the DRIVER over the
    * collected vocabulary — the [[Dedup.connectedComponents]]
    * `driverEdgeLimit` pattern. Measured, not stylistic: the distributed
    * trainer is a few bounded jobs per round, ~0.1–0.15 s of scheduling
    * each at fixture/lake scale against microseconds of work
    * (ta_bpe_train: 2.0–2.8 s warm at sf0.1 distributed, 0.42 s on the
    * driver). Under the bound the corpus text is ≤ 32 MB, so the
    * vocabulary collects safely; beyond it the distributed round runs.
    * Both regimes share [[trainRounds]], and BpeDriverRegimeSpec forces
    * both onto the same inputs. Override per session via
    * `spark.graft.bpe.driverInputLimit` (bytes; 0 forces the distributed
    * round). */
  val DriverInputBytesLimit: Long = 32L << 20

  private def driverInputLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.bpe.driverInputLimit")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(DriverInputBytesLimit)

  /** True when `df`'s optimizer estimate is a KNOWN size under the
    * driver-regime limit (unknown stats → distributed, never guess). */
  private def driverRegime(df: DataFrame): Boolean =
    graft.GraftSession.knownBytes(df.queryExecution.optimizedPlan.stats)
      .exists(_ < driverInputLimit(df.sparkSession))

  /** Post-collect guard for the driver regime (r21): [[driverRegime]]
    * bounds the optimizer's BYTE ESTIMATE, which compression/propagation can
    * underestimate, and the driver loop expands every vocab word into
    * per-code-point String arrays and per-round pair HashMaps (~50× JVM
    * overhead per text char). After the (maxResultSize-bounded) collect,
    * re-check the ACTUAL vocabulary UTF-8 bytes against the same limit
    * and fall back to the distributed round when exceeded. */
  private[operators] def driverVocabFits(spark: SparkSession,
      words: Iterator[String], what: String): Boolean = {
    val lim = driverInputLimit(spark)
    val bytes = words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    val ok = bytes <= lim
    if (!ok) System.err.println(s"[bpe] driver-regime estimate lied ($what): " +
      s"collected vocabulary is $bytes bytes > limit $lim bytes — " +
      "falling back to the distributed loop")
    ok
  }

  /** Spark's string ordering is UTF8String — unsigned UTF-8 byte
    * comparison. Driver-side ranking must break count ties identically
    * (UTF-16 `String.compareTo` differs for supplementary-plane text). */
  private[operators] val Utf8Ordering: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Candidate rank: count desc, then (l, r) in UTF-8 byte order — what
    * a distributed `orderBy(cnt desc, sym, nxt)` yields. */
  private val RankOrder: Ordering[(String, String, Long)] =
    (a: (String, String, Long), b: (String, String, Long)) =>
      if (a._3 != b._3) java.lang.Long.compare(b._3, a._3)
      else {
        val cl = Utf8Ordering.compare(a._1, b._1)
        if (cl != 0) cl else Utf8Ordering.compare(a._2, b._2)
      }

  /** Split to per-CODE-POINT symbols — `substr(i, 1)` semantics (Spark
    * counts code points, not UTF-16 units). */
  private def codePointSyms(wd: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < wd.length) {
      val n = Character.charCount(wd.codePointAt(i))
      out += wd.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** The merge rule: one greedy left-to-right pass over a symbol
    * sequence for a SYMBOL-DISJOINT pick set — an adjacent pair in
    * `picks` becomes its merged symbol and the scan resumes after it, so
    * an l = r run merges at even offsets. A sequence shorter than 2
    * symbols has no pair. */
  private def applyPicks(syms: Array[String],
      picks: Map[(String, String), String]): Array[String] = {
    if (syms.length < 2) return syms
    val out = new mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && picks.contains((syms(i), syms(i + 1)))) {
        out += picks((syms(i), syms(i + 1))); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Frequency-weighted adjacent-pair counts over the vocabulary. */
  private def pairCounts(vocab: Array[(Array[String], Long)])
      : mutable.HashMap[(String, String), Long] = {
    val m = mutable.HashMap.empty[(String, String), Long]
    vocab.foreach { case (s, f) =>
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1))
        m.update(k, m.getOrElse(k, 0L) + f)
        i += 1
      }
    }
    m
  }

  /** The batched selection rule over ranked candidates: a pair is PICKED
    * iff no higher-ranked candidate (picked or not) shares a symbol with
    * it, capped at `batchSize` — so `seen` accumulates the symbols of
    * EVERY scanned pair, and picks are pairwise symbol-disjoint. */
  private def conflictFreePrefix(ranked: Seq[(String, String, Long)],
      batchSize: Int): Seq[(String, String, Long)] = {
    val picks = mutable.ArrayBuffer.empty[(String, String, Long)]
    val seen = mutable.Set.empty[String]
    val it = ranked.iterator
    while (picks.size < batchSize && it.hasNext) {
      val p @ (l, r, _) = it.next()
      if (!seen(l) && !seen(r)) picks += p
      seen += l; seen += r
    }
    picks.toSeq
  }

  /** The training round both regimes share. `counts(window)` returns the
    * round's candidate pairs (l, r, cnt) meeting `minPairCount` — in any
    * order, at least its top `window`; the round ranks them
    * ([[RankOrder]]), keeps the top 4·batchSize (a pick blocks ≤ 2
    * symbols, so a deeper rank is picked only if every higher one
    * conflicts among themselves), picks by [[conflictFreePrefix]], and
    * hands the picks to `rewrite`. Stops when a round picks nothing; a
    * round may overshoot `numMerges` by up to batchSize − 1 picks, and
    * the table truncates to the first `numMerges`. */
  private def trainRounds(numMerges: Int, batchSize: Int)(
      counts: Int => Seq[(String, String, Long)],
      rewrite: Map[(String, String), String] => Unit): Seq[(Int, String, String, Long)] = {
    val window = 4 * batchSize
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (merges.size < numMerges && !done) {
      val picks = conflictFreePrefix(counts(window).sorted(RankOrder).take(window), batchSize)
      if (picks.isEmpty) done = true
      else {
        picks.foreach { case (l, r, c) => merges += ((merges.size, l, r, c)) }
        // the last round's rewrite would feed no further ranking
        if (merges.size < numMerges)
          rewrite(picks.map { case (l, r, _) => (l, r) -> (l + r) }.toMap)
      }
    }
    merges.take(numMerges).toSeq
  }

  /** Driver-regime trainer: [[trainRounds]] over a collected vocabulary. */
  private[operators] def trainDriver(vocab0: Array[(String, Long)],
      numMerges: Int, minPairCount: Long,
      batchSize: Int): Seq[(Int, String, String, Long)] = {
    var vocab = vocab0.map { case (wd, f) => (codePointSyms(wd), f) }
    trainRounds(numMerges, batchSize)(
      _ => pairCounts(vocab).iterator
        .collect { case ((l, r), c) if c >= minPairCount => (l, r, c) }.toSeq,
      picks => vocab = vocab.map { case (s, f) => (applyPicks(s, picks), f) })
  }

  /** The vocabulary as (wd, freq, syms) rows, `syms` the word's code
    * points. */
  private[operators] def symbolRows(vocab: DataFrame): DataFrame = {
    val syms = udf((wd: String) => codePointSyms(wd))
    vocab.select(col("wd"), col("freq"), syms(col("wd")).as("syms"))
  }

  /** One round's candidate pair counts over (wd, freq, syms) rows:
    * adjacent pairs as a zip of the array with itself shifted by one
    * (a 1-symbol word zips two empty slices — no pair), exploded and
    * frequency-summed in a map-side-combined aggregate,
    * `minPairCount`-filtered. The spec pins its physical plan. */
  private[operators] def candidatePairs(rows: DataFrame,
      minPairCount: Long): DataFrame = {
    val n = size(col("syms")) - 1
    rows.select(col("freq"),
        explode(arrays_zip(slice(col("syms"), lit(1), n), slice(col("syms"), lit(2), n)))
          .as("p"))
      .groupBy(col("p").getField("0").as("sym"), col("p").getField("1").as("nxt"))
      .agg(sum(col("freq")).as("cnt"))
      .filter(col("cnt") >= minPairCount)
  }

  /** Distributed-regime trainer: [[trainRounds]] over (wd, freq, syms)
    * rows. A round is one distributed selection — [[candidatePairs]]
    * into a TakeOrdered top-window collect — and one narrow
    * [[applyPicks]] map over the rows, eagerly localCheckpoint'd so the
    * lineage stays one round deep (superseded generations released). */
  private def trainDistributed(vocab: DataFrame, numMerges: Int,
      minPairCount: Long, batchSize: Int): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.sql.graftops.PlanApi
    var rows = symbolRows(vocab).localCheckpoint(true)
    try trainRounds(numMerges, batchSize)(
      window => candidatePairs(rows, minPairCount)
        .orderBy(col("cnt").desc, col("sym"), col("nxt")).limit(window)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq,
      picks => {
        val merge = udf((syms: Seq[String]) => applyPicks(syms.toArray, picks))
        val next = rows.withColumn("syms", merge(col("syms"))).localCheckpoint(true)
        PlanApi.releaseCheckpointBlocks(rows)
        rows = next
      })
    finally PlanApi.releaseCheckpointBlocks(rows)
  }

  /** BPE training — learn `numMerges` merges, one per round: count
    * adjacent symbol pairs weighted by word frequency, take the max
    * (count desc, then UTF-8 byte order — fully deterministic), merge it
    * greedily left-to-right in every word. Returns the merge table
    * (it, lft, rgt, cnt). This is [[bpeTrainBatched]] with
    * `batchSize = 1`, whose selection rule degenerates to that argmax.
    * Stops early when no pair reaches `minPairCount`. */
  def bpeTrain(df: DataFrame, textCol: String,
      numMerges: Int, minPairCount: Long = 1L): DataFrame =
    bpeTrainBatched(df, textCol, numMerges, batchSize = 1, minPairCount = minPairCount)

  /** BATCHED BPE training — `batchSize` merges per round, so a real
    * 32k-merge table trains in ~numMerges/batchSize rounds.
    *
    * Selection rule (deterministic, engine-portable): rank all pairs
    * meeting `minPairCount` by (count desc, pair asc); a pair is PICKED
    * iff no higher-ranked pair shares a symbol with it (conflict-free
    * prefix — so picks are pairwise symbol-disjoint), capped at
    * `batchSize` per round. Disjointness is what makes the batch sound:
    * merging (a,b) only perturbs counts of pairs touching a or b, so
    * every picked pair's count is exactly what sequential application of
    * the batch would have seen, and ONE [[applyPicks]] pass applies the
    * whole batch. The variant trades classic BPE's "re-rank after every
    * merge" for round-level ranking — merges CREATED by a round wait for
    * the next round's ranking; a documented algorithm difference, not an
    * approximation of the classic schedule.
    *
    * The corpus collapses to a word-frequency vocabulary once
    * (map-side-combined groupBy — the only pass over corpus rows); under
    * [[DriverInputBytesLimit]] the rounds run on the driver, otherwise
    * distributed over (wd, freq, syms) rows — see [[trainDistributed]].
    * A round costs a bounded handful of jobs, never a plan that grows
    * with the merge count. */
  def bpeTrainBatched(df: DataFrame, textCol: String,
      numMerges: Int, batchSize: Int = 8,
      minPairCount: Long = 1L): DataFrame = {
    require(batchSize >= 1, s"batchSize=$batchSize must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = df.select(explode(split(TextAnalysis.normalize(col(textCol)), " ")).as("wd"))
      .filter(length(col("wd")) > 0)
      .groupBy("wd").agg(count(lit(1)).as("freq"))
    val collected =
      if (!driverRegime(df)) None
      else Some(vocab.collect().map(r => (r.getString(0), r.getLong(1))))
        .filter(rows => driverVocabFits(spark, rows.iterator.map(_._1), "train"))
    val merges = collected match {
      case Some(rows) =>
        System.err.println(s"[bpe] driver regime: ${rows.length} vocab words, " +
          s"$numMerges merges x batch $batchSize on the driver")
        trainDriver(rows, numMerges, minPairCount, batchSize)
      case None => trainDistributed(vocab, numMerges, minPairCount, batchSize)
    }
    merges.toDF("it", "lft", "rgt", "cnt")
  }

  /** A merge table as pair → its ranks (ascending; a pair may repeat). */
  private def mergeRanks(merges: Seq[(String, String)]): Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupMap(_._1)(_._2).map { case (p, rs) => p -> rs.toArray }

  /** One word's encoding under a merge table: "apply merge k once, as
    * one [[applyPicks]] pass, for k in rank order", computed by jumping
    * straight to the next-ranked merge that has an adjacent pair in the
    * word — the merges in between find nothing to rewrite. Each jump
    * merges ≥ 1 pair, so an n-symbol word costs < n passes whatever the
    * table size. Returns (symbol count, space-joined symbols). */
  private def encodeWord(wd: String,
      ranks: Map[(String, String), Array[Int]]): (Long, String) = {
    var syms = codePointSyms(wd)
    var last = -1
    var done = false
    while (!done) {
      var best = Int.MaxValue
      var pair: (String, String) = null
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        ranks.get(p).flatMap(_.find(_ > last)).foreach { k =>
          if (k < best) { best = k; pair = p }
        }
        i += 1
      }
      if (pair == null) done = true
      else {
        syms = applyPicks(syms, Map(pair -> (pair._1 + pair._2)))
        last = best
      }
    }
    (syms.length.toLong, syms.mkString(" "))
  }

  /** BPE ENCODING with a pre-trained merge table ([[BpeMerges]] shape) —
    * the other half of the tokenizer: every word splits to characters
    * and each merge applies once, in rank order, as one greedy
    * left-to-right pass. This is the single-pass rank-order variant
    * (subword-nmt's loop re-scans for the best REMAINING pair, which
    * later merges can re-create; one pass per merge is deterministic and
    * what a streaming-friendly encoder wants — documented difference,
    * not an accident). Returns (id, n_syms, enc): the subword count and
    * the space-joined symbol sequence.
    *
    * Scale shape: encoding is a function of the WORD alone, so
    * [[encodeWord]] runs once per DISTINCT word, in the same stage as the
    * distinct — one stage for any merge count, the merge table shipped
    * once per task, the vocabulary never on the driver. The encoded
    * vocabulary joins back onto the corpus word stream without a hint:
    * the planner (autoBroadcastJoinThreshold plus AQE runtime sizes)
    * broadcasts a small vocabulary and shuffle-joins one that
    * outgrows a broadcast (code identifiers, URLs, noisy OCR). The
    * corpus pays one word explode, that join and one per-doc
    * reassembly groupBy. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // Widened regime (r20, measured at 10M docs / 8 g): the per-doc
    // reassembly's partial collect_list ran on the 32 SCAN partitions —
    // each task buffering ~300k docs' (wpos, enc) arrays — and spilled
    // 50 GB before the shuffle (plus 2×30 GB on the double-executed
    // sort side), 194 s cold. ONE explicit hash(id) exchange over the
    // NARROW doc frame (repartition BEFORE the explode — the wordPosts
    // pattern; repartitioning the exploded stream instead pushes ~550M
    // rows through 32 concurrent shuffle writers and died
    // UNABLE_TO_ACQUIRE_MEMORY in the map stage, measured) runs the
    // explode and every downstream agg post-shuffle with ~|corpus|/w
    // docs of state per task; HashPartitioning(id) survives the alias
    // projection and satisfies the reassembly's distribution, so no
    // second corpus exchange. Fixture: None, plan byte-identical.
    val width = graft.GraftSession.explodeWidth(df, expansion = 16.0)
    val src = width match {
      case Some(w) => df.repartition(w, col(idCol))
      case None    => df
    }
    // Persisted (r21, measured): the word stream feeds both the distinct
    // vocabulary and the per-doc reassembly join, and each re-ran the
    // normalize-regex + explode per reference. Storage level splits by
    // the width regime like shinglePosts: the widened stream is
    // corpus-sized and heap-caching it would starve the reassembly's aggs.
    val words = src
      .select(col(idCol).as("id"),
        posexplode(split(TextAnalysis.normalize(col(textCol)), " ")).as(Seq("wpos", "wd")))
      .filter(length(col("wd")) > 0)
      .persist(if (width.isDefined)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranks = mergeRanks(merges)
    import df.sparkSession.implicits._
    val encVocab = words.select("wd").distinct().as[String]
      .mapPartitions(_.map { wd => val (n, e) = encodeWord(wd, ranks); (wd, n, e) })
      .toDF("wd", "n", "e")
    words.join(encVocab, Seq("wd"))
      .groupBy("id")
      .agg(sum(col("n")).as("n_syms"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("wpos"), col("e")))),
          s => s.getField("e"))).as("enc"))
  }

}
