package graft.streaming

import org.apache.spark.sql.functions._

/** [[SubstringStream]] — the substring-gated ingest loop (third stored-
  * index modality next to minhash signatures and semantic cells).
  * Contracts pinned here:
  *  - a full-text replay is passage-complete and drops WHOLE;
  *  - a doc carrying an indexed passage plus novel words survives with
  *    the passage stripped (the incremental form of substringDedup);
  *  - null-text docs pass for review and never enter the index;
  *  - the stored index stays DISTINCT across ticks (the broadcast-anti
  *    append), and committed-batch replay is a no-op;
  *  - sub-window docs pass whole and are invisible to the index (the
  *    documented floor of substring dedup). */
class SubstringStreamSpec extends graft.SparkSpec {

  test("SubstringStream: passage stripping, full-replay drop, null review, idempotent replay") {
    import spark.implicits._
    val corpusDir = tmpDir("subcorpus")
    val idxDir = tmpDir("subidx")
    def tick(b: org.apache.spark.sql.DataFrame, bid: Long) =
      SubstringStream.ingestBatch(spark, b, "doc_id", "text",
        corpusDir, idxDir, windowWords = 4, batchId = bid)

    val a = "a0 a1 a2 a3 a4 a5 a6 a7 a8 a9"
    val b = "b0 b1 b2 b3 b4 b5 b6 b7"
    val t1 = Seq((1L, Some(a)), (2L, Some(b)), (3L, None: Option[String]))
      .toDF("doc_id", "text")
    assert(tick(t1, 0L) === 3L) // empty index: both text docs + null review row
    val corpus1 = spark.read.parquet(corpusDir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(corpus1 === Map(1L -> Some(a), 2L -> Some(b), 3L -> None))
    // index: every 4-word window of a (7) and b (5), distinct
    val keys1 = spark.read.parquet(idxDir).select("wkey").collect().map(_.getString(0))
    assert(keys1.length === 12 && keys1.distinct.length === 12)

    // tick 2: full replay of a drops whole; a doc carrying a's words
    // 2..7 plus four novel words keeps only the novel tail; an
    // all-novel doc and a sub-window (2-word) doc pass whole
    val d = "a2 a3 a4 a5 a6 a7 n1 n2 n3 n4"
    val e = "e0 e1 e2 e3 e4"
    val t2 = Seq((10L, a), (11L, d), (12L, e), (13L, "f0 f1"))
      .toDF("doc_id", "text")
    assert(tick(t2, 1L) === 3L)
    val corpus2 = spark.read.parquet(corpusDir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(!corpus2.contains(10L))
    assert(corpus2(11L) === Some("n1 n2 n3 n4"))
    assert(corpus2(12L) === Some(e))
    assert(corpus2(13L) === Some("f0 f1"))

    // index stays distinct; the sub-window doc contributed no keys
    val keys2 = spark.read.parquet(idxDir).select("wkey").collect().map(_.getString(0))
    assert(keys2.length === keys2.distinct.length)
    // d's kept tail has exactly 1 full window (n1..n4); e has 2
    assert(keys2.length === 12 + 1 + 2)

    // committed replay: no-op, nothing re-published
    assert(tick(t2, 1L) === 0L)
    assert(spark.read.parquet(corpusDir).count() === 6L)
    assert(spark.read.parquet(idxDir).count() === 15L)

    // tick 3: a replay of the sub-window doc is NOT strippable (no
    // windows at 2 words) — the documented floor of substring dedup
    assert(tick(Seq((20L, "f0 f1")).toDF("doc_id", "text"), 2L) === 1L)
  }

  test("SubstringStream: regime flips across ticks keep the stored-index contract") {
    // A backfill-sized batch takes the degrade branch (shuffle joins,
    // no batch-key broadcast) while ingest ticks keep the broadcasts —
    // the index contract (DISTINCT keys, exact novel counts, replays
    // stripped) must hold when consecutive ticks straddle the regime
    // threshold in either direction.
    import spark.implicits._
    val corpusDir = tmpDir("subflip_c")
    val idxDir = tmpDir("subflip_i")
    def tick(b: org.apache.spark.sql.DataFrame, bid: Long) =
      SubstringStream.ingestBatch(spark, b, "doc_id", "text",
        corpusDir, idxDir, windowWords = 4, batchId = bid)
    def forced[A](body: => A): A = {
      spark.conf.set("spark.graft.explode.targetBytes", "1024")
      try body finally spark.conf.unset("spark.graft.explode.targetBytes")
    }
    val a = "a0 a1 a2 a3 a4 a5 a6 a7" // 5 windows
    val b = "b0 b1 b2 b3 b4 b5"       // 3 windows
    // tick 0 unforced (broadcast path)
    assert(tick(Seq((1L, a)).toDF("doc_id", "text"), 0L) === 1L)
    assert(spark.read.parquet(idxDir).count() === 5L)
    // tick 1 FORCED (degrade path): replay of a drops whole; b's novel
    // keys append exactly once
    forced {
      assert(tick(Seq((2L, a), (3L, b)).toDF("doc_id", "text"), 1L) === 1L)
    }
    val keys1 = spark.read.parquet(idxDir).select("wkey").collect().map(_.getString(0))
    assert(keys1.length === 8 && keys1.distinct.length === 8)
    // tick 2 back to unforced: replay of b (indexed by the FORCED tick)
    // drops whole — the two branches share one index semantics
    assert(tick(Seq((4L, b), (5L, "c0 c1 c2 c3")).toDF("doc_id", "text"), 2L) === 1L)
    val keys2 = spark.read.parquet(idxDir).select("wkey").collect().map(_.getString(0))
    assert(keys2.length === 9 && keys2.distinct.length === 9)
    val corpus = spark.read.parquet(corpusDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus === Map(1L -> a, 3L -> b, 5L -> "c0 c1 c2 c3"))
  }

  test("SubstringStream: empty/whitespace text is published and counted, not silently dropped") {
    import spark.implicits._
    val corpusDir = tmpDir("subzero_c")
    val idxDir = tmpDir("subzero_i")
    val t1 = Seq((1L, Some("z0 z1 z2 z3 z4")), (2L, Some("")),
        (3L, Some("   ")), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    // all four rows reach the corpus: the normal survivor, the two
    // token-less docs (normalize to one empty token -> survivor branch,
    // clean_text = ""), and the null review row
    assert(SubstringStream.ingestBatch(spark, t1, "doc_id", "text",
      corpusDir, idxDir, windowWords = 4, batchId = 0L) === 4L)
    val corpus = spark.read.parquet(corpusDir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(corpus.keySet === Set(1L, 2L, 3L, 4L))
    // token-less docs publish the NORMALIZED reassembly (""), never the
    // raw text — pins the survivor path (doc 3's raw "   " must not
    // leak into the corpus, which only ever holds normalized forms)
    assert(corpus(2L) === Some(""))
    assert(corpus(3L) === Some(""))
    assert(corpus(4L) === None)
    // token-less docs never enter the index: only doc 1's 2 windows
    assert(spark.read.parquet(idxDir).count() === 2L)
  }

  test("SubstringStream: partial-publish crash replay rolls back and republishes once") {
    import spark.implicits._
    val corpusDir = tmpDir("subcrash_c")
    val idxDir = tmpDir("subcrash_i")
    val t1 = Seq((1L, "x0 x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    assert(SubstringStream.ingestBatch(spark, t1, "doc_id", "text",
      corpusDir, idxDir, windowWords = 4, batchId = 0L) === 1L)
    // simulate a crash that published batch 1's index keys but died
    // before the commit marker: orphaned keys for doc 5's text
    val orphan = Seq((5L, "y0 y1 y2 y3 y4")).toDF("doc_id", "text")
    val orphanKeys = graft.operators.Dedup.windowFingerprints(
      orphan, "doc_id", "text", 4)
    BatchCommit.publish(spark.sparkContext.hadoopConfiguration,
      orphanKeys, idxDir, 1L)
    // replay of batch 1: rollback-first must clear the orphans, or the
    // batch's own keys would strip doc 5 to nothing
    assert(SubstringStream.ingestBatch(spark, orphan, "doc_id", "text",
      corpusDir, idxDir, windowWords = 4, batchId = 1L) === 1L)
    val texts = spark.read.parquet(corpusDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(5L) === "y0 y1 y2 y3 y4")
    // doc 5's keys landed exactly once
    val keys = spark.read.parquet(idxDir).select("wkey").collect().map(_.getString(0))
    assert(keys.length === keys.distinct.length)
  }
}
