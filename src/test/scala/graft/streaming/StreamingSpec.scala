package graft.streaming

import graft.SparkSpec
import graft.pipeline.Reconcile
import graft.sources.{NemFixture, ParquetMeta}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class StreamingSpec extends SparkSpec {

  test("IngestStream: landing dir drained to lake; second run skips via history") {
    val landing = tmpDir("landing")
    val lake = tmpDir("slake")
    val hist = tmpDir("shist")
    Files.write(Paths.get(landing, "PUBLIC_FPP_20250607.csv"),
      NemFixture.csv.getBytes(StandardCharsets.UTF_8))
    val q = IngestStream.start(spark, landing, lake, hist, tmpDir("ckpt1"))
    q.awaitTermination(60000)
    val rows = spark.read.parquet(s"$lake/FPP---UNIT_MW---1").count()
    assert(rows === 4)
    // drain again with a fresh checkpoint: history must skip the same file
    val q2 = IngestStream.start(spark, landing, lake, hist, tmpDir("ckpt2"))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$lake/FPP---UNIT_MW---1").count() === 4) // unchanged
  }

  test("EventStream.windowedAgg: watermarked 5-min windows over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(df).writeStream
      .format("memory").queryName("winagg").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    mem.addData((t("2024-01-01T00:01:00Z"), "click", 1.0),
      (t("2024-01-01T00:02:00Z"), "click", 2.0),
      (t("2024-01-01T00:07:00Z"), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData((t("2024-01-01T01:00:00Z"), "click", 0.0))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM winagg ORDER BY bucket, event_type").collect()
    q.stop()
    assert(out.length >= 2)
    val first = out.head
    assert(first.getAs[java.sql.Timestamp]("bucket") === t("2024-01-01T00:00:00Z"))
    assert(first.getAs[Long]("n") === 2L)
    assert(first.getAs[Double]("sum_value") === 3.0)
  }

  test("EventStream.dedupStream: duplicate ids across micro-batches collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStream.dedupStream(df, "event_id").writeStream
      .format("memory").queryName("dedupst").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    mem.addData((1L, t("2024-01-01T00:00:00Z"), "a"), (2L, t("2024-01-01T00:00:01Z"), "b"),
      (1L, t("2024-01-01T00:00:02Z"), "a-dup-same-batch"))
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01T00:00:03Z"), "a-dup-next-batch"),
      (3L, t("2024-01-01T00:00:04Z"), "c"))
    q.processAllAvailable()
    val ids = spark.sql("SELECT event_id FROM dedupst").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids === Array(1L, 2L, 3L)) // both in-batch and cross-batch dups dropped
  }

  test("CorpusStream: novel docs ingested, cross-batch near-dups gated by the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = tmpDir("corpus")
    val sigDir = tmpDir("sigidx")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    // other suites may legitimately leave session caches behind now that
    // a tick releases only its OWN persists — assert on the DELTA
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val q = CorpusStream.start(spark, df, "doc_id", "text",
      corpusDir, sigDir, tmpDir("corpusck"), minAgree = 0.5)
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks"
    mem.addData((1L, base), (2L, "totally different prose concerning parquet files and columnar engines"),
      (3L, base)) // exact within-batch dup of 1 → dropped by exactDedup
    q.processAllAvailable()
    mem.addData((10L, base.replace("dawn", "dusk")), // near-dup of ingested 1 → gated
      (11L, "novel second-batch document about orbital mechanics and satellites"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 2L, 11L))
    // the index holds exactly the kept docs' signatures
    val sigIds = spark.read.parquet(sigDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(sigIds === Array(1L, 2L, 11L))
    // tick hygiene: a long-lived ingest loop must not accumulate the
    // operators' internal caches across micro-batches (delta vs the
    // suite-start set — co-resident caches are none of the tick's business)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- preexisting).isEmpty)
  }

  test("CorpusStream.ingestBatch: committed-batch replay is skipped (idempotent commit)") {
    import spark.implicits._
    val corpusDir = tmpDir("corpus_idem")
    val sigDir = tmpDir("sigidx_idem")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val n1 = CorpusStream.ingestBatch(spark, batch, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 7L)
    assert(n1 === 2L)
    // at-least-once replay of the SAME batch id: must be a no-op
    val n2 = CorpusStream.ingestBatch(spark, batch, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 7L)
    assert(n2 === 0L)
    assert(spark.read.parquet(corpusDir).count() === 2L)
    assert(spark.read.parquet(sigDir).count() === 2L)
  }

  test("CorpusStream.ingestBatch: partial-publish crash replay rolls back and republishes once") {
    import spark.implicits._
    val corpusDir = tmpDir("corpus_crash")
    val sigDir = tmpDir("sigidx_crash")
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    CorpusStream.ingestBatch(spark, b1, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 0L)
    // simulate a crash AFTER batch 1's sig publish but BEFORE its corpus
    // publish and commit marker: sig rows present, corpus rows and marker
    // absent — the worst window (the batch's own orphaned index rows
    // would gate its docs out without the rollback)
    val b2 = Seq((5L, "totally different prose concerning parquet files and engines"))
      .toDF("doc_id", "text")
    CorpusStream.ingestBatch(spark, b2, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 1L)
    new java.io.File(corpusDir).listFiles()
      .filter(_.getName.startsWith("batch1-")).foreach(_.delete())
    fs.delete(new org.apache.hadoop.fs.Path(s"$corpusDir/_graft_commits/batch-1"), false)
    // replay of the half-committed batch: doc 5 must land exactly once
    val n = CorpusStream.ingestBatch(spark, b2, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 1L)
    assert(n === 1L)
    val kept = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 5L))
    val sigIds = spark.read.parquet(sigDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(sigIds === Array(1L, 5L))
  }

  test("index probe: an empty or missing index dir admits every doc, logs no WARN") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("warn-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      // SparkStringUtils' plan-truncation notice prints once per JVM,
      // whichever test first plans a wide frame — not about the probe
      override def append(e: LogEvent): Unit =
        if (!e.getLoggerName.endsWith("SparkStringUtils"))
          warns.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    capture.start()
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    def tick(sigDir: String) = CorpusStream.ingestBatch(spark, batch, "doc_id", "text",
      tmpDir("corpus_noidx"), sigDir, 3, 32, 8, 0.5, batchId = 0L)
    val (existing, missing) = try {
      // an existing dir with no visible parquet file: a rolled-back first
      // publish leaves exactly this (plus a hidden staging dir)
      val empty = tmpDir("sigidx_empty")
      Files.createDirectory(Paths.get(empty, "_tmp_batch_0"))
      (tick(empty), tick(tmpDir("sigidx_parent") + "/sig"))
    } finally {
      root.removeAppender("warn-capture")
      ctx.updateLoggers()
      capture.stop()
    }
    assert(existing === 2L)
    assert(missing === 2L)
    assert(warns.isEmpty, warns.toArray.mkString("\n"))
  }

  test("CorpusStream stats maintenance: folded partials equal the corpus sketch; replay-safe") {
    import spark.implicits._
    val corpusDir = tmpDir("corpus_stats")
    val sigDir = tmpDir("sigidx_stats")
    val statsDir = tmpDir("cmstats")
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // doc 3 near-dups doc 1 → gated; its tokens must NOT enter the stats
    val b2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "totally different prose concerning parquet files and engines"))
      .toDF("doc_id", "text")
    def tick(b: org.apache.spark.sql.DataFrame, bid: Long) =
      CorpusStream.ingestBatch(spark, b, "doc_id", "text",
        corpusDir, sigDir, 3, 32, 8, 0.5, batchId = bid,
        statsDir = Some(statsDir), statsDepth = 4, statsWidth = 64)
    assert(tick(b1, 0L) === 2L)
    assert(tick(b2, 1L) === 1L)
    // folded per-tick partials ≡ sketching the read-back corpus directly
    val folded = CorpusStream.readTokenStats(spark, statsDir)
    val direct = graft.operators.TextSketches.countMinSketch(
      spark.read.parquet(corpusDir), "text", depth = 4, width = 64)
    assert(folded.except(direct).isEmpty && direct.except(folded).isEmpty)
    // HLL partials fold to exactly the registers of the read-back corpus
    // (max-merge — idempotent, so replay cannot inflate)
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val directToks = spark.read.parquet(corpusDir)
      .select(explode(split(graft.operators.TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val directRegs = graft.operators.TextSketches.hllRegisters(directToks, col("tok"), p = 12)
    val foldedRegs = graft.operators.TextSketches.hllMerge(
      Seq(spark.read.parquet(s"$statsDir/hll")))
    assert(foldedRegs.except(directRegs).isEmpty && directRegs.except(foldedRegs).isEmpty)
    val card = CorpusStream.readTokenCardinality(spark, statsDir).collect().head
    assert(card.getAs[Long]("m") === 4096L)
    assert(card.getAs[Double]("est_raw") > 0.0)
    // committed replay publishes no second stats partial (counts OR registers)
    assert(tick(b2, 1L) === 0L)
    assert(CorpusStream.readTokenStats(spark, statsDir).except(direct).isEmpty)
    assert(CorpusStream.readTokenCardinality(spark, statsDir).collect().head
      .getAs[Long]("denom") === card.getAs[Long]("denom"))
  }

  test("SemanticCorpusStream: embedding-gated ticks, null-vec review rows, idempotent replay") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val corpusDir = tmpDir("semcorpus")
    val idxDir = tmpDir("semidx")
    def tick(b: org.apache.spark.sql.DataFrame, bid: Long) =
      SemanticCorpusStream.ingestBatch(spark, b, "vec_id", "embedding",
        corpusDir, idxDir, cents, minCosine = 0.98, nprobe = 2,
        batchId = bid)
    val t1 = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    assert(tick(t1, 0L) === 2L) // empty index: both novel
    // tick 2: 10 semantically repeats 1 (cos ≈ 1) → gated; 11 is new;
    // 12 has no vector → no semantic identity, passes for review
    val t2 = Seq((10L, Some(Array(0.99f, 0.01f))), (11L, Some(Array(-0.7f, 0.7f))),
      (12L, None: Option[Array[Float]])).toDF("vec_id", "embedding")
    assert(tick(t2, 1L) === 2L)
    assert(spark.read.parquet(corpusDir).select("vec_id")
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 11L, 12L))
    // the cell index holds exactly the VECTOR-BEARING novel docs
    assert(spark.read.parquet(idxDir).select("id")
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 11L))
    // tick 3: a repeat of tick-2's novel doc is gated by the updated index
    val t3 = Seq((20L, Array(-0.69f, 0.71f))).toDF("vec_id", "embedding")
    assert(tick(t3, 2L) === 0L)
    // at-least-once replay of a committed batch is a no-op
    assert(tick(t2, 1L) === 0L)
    assert(spark.read.parquet(corpusDir).count() === 4L)
    assert(spark.read.parquet(idxDir).count() === 3L)
  }

  test("EventStream.streamingSessionizeEventTime: late-within-watermark folds, late-beyond drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Ev]
    val q = EventStream.streamingSessionizeEventTime(mem.toDS(),
        gapSeconds = 60, lateness = "10 minutes").writeStream
      .format("memory").queryName("sess_wm").outputMode("append").start()
    // batch 1: two sessions; watermark advances to 00:20 − 10 min = 00:10
    mem.addData(
      EventStream.Ev(7L, 1L, t("2024-01-01T00:00:00Z")),
      EventStream.Ev(7L, 2L, t("2024-01-01T00:20:00Z")))
    q.processAllAvailable()
    // batch 2: event 3 is late BEYOND the watermark (00:05 < 00:10) →
    // dropped by the stateful operator, never misnumbered into a closed
    // session; event 4 (00:21, within) folds into session 2 (gap = 60 s,
    // not > 60 s)
    mem.addData(
      EventStream.Ev(7L, 3L, t("2024-01-01T00:05:00Z")),
      EventStream.Ev(7L, 4L, t("2024-01-01T00:21:00Z")))
    q.processAllAvailable()
    val out = spark.sql("SELECT event_id, session_n FROM sess_wm ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (4L, 2L)))
  }

  test("EventStream.streamingSessionizeEventTime: accepted late row cannot rewind the session clock") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Ev]
    val q = EventStream.streamingSessionizeEventTime(mem.toDS(),
        gapSeconds = 60, lateness = "10 minutes").writeStream
      .format("memory").queryName("sess_wm_rewind").outputMode("append").start()
    // batch 1: sessions 1 and 2; state lastTs = 00:20:00, watermark → 00:10
    mem.addData(
      EventStream.Ev(9L, 1L, t("2024-01-01T00:00:00Z")),
      EventStream.Ev(9L, 2L, t("2024-01-01T00:20:00Z")))
    q.processAllAvailable()
    // batch 2: event 3 is >= the watermark (accepted) but OLDER than the
    // state's lastTs — it must join the open session 2 WITHOUT moving the
    // session clock backwards; event 4 is 45 s after the TRUE latest event
    // (00:20:00), i.e. within gap, so it is session 2 as well. The
    // pre-fix fold rewound lastTs to 00:19:30 and misnumbered event 4
    // into a spurious session 3 (00:20:45 − 00:19:30 = 75 s > gap).
    mem.addData(
      EventStream.Ev(9L, 3L, t("2024-01-01T00:19:30Z")),
      EventStream.Ev(9L, 4L, t("2024-01-01T00:20:45Z")))
    q.processAllAvailable()
    val out = spark.sql("SELECT event_id, session_n FROM sess_wm_rewind ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L)))
  }

  test("EventStream.streamingSessionizeBuffered: rows emit in TRUE event-time order with batch-exact numbering") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Ev]
    val q = EventStream.streamingSessionizeBuffered(mem.toDS(),
        gapSeconds = 60, lateness = "10 minutes").writeStream
      .format("memory").queryName("sess_buf").outputMode("append").start()
    // b1: key 7 opens with events at 00:00 and 00:20; key 9 at 00:15.
    // Everything buffers (watermark still at epoch). wm after b1 → 00:10
    mem.addData(
      EventStream.Ev(7L, 1L, t("2024-01-01T00:00:00Z")),
      EventStream.Ev(7L, 4L, t("2024-01-01T00:20:00Z")),
      EventStream.Ev(9L, 20L, t("2024-01-01T00:15:00Z")))
    q.processAllAvailable()
    // b2: events 2/3 arrive OUT OF ORDER relative to the already-seen
    // event 4 (but >= watermark → accepted); key 9 gets 00:14, out of
    // order vs its 00:15. Ripe at wm 00:10: only event 1
    mem.addData(
      EventStream.Ev(7L, 2L, t("2024-01-01T00:10:30Z")),
      EventStream.Ev(7L, 3L, t("2024-01-01T00:11:00Z")),
      EventStream.Ev(9L, 21L, t("2024-01-01T00:14:00Z")))
    q.processAllAvailable()
    // b3: event 8 is BEYOND the watermark (00:05 < 00:10) → dropped,
    // never emitted; event 5 advances the wm driver. wm after b3 → 00:30
    mem.addData(
      EventStream.Ev(7L, 8L, t("2024-01-01T00:05:00Z")),
      EventStream.Ev(7L, 5L, t("2024-01-01T00:40:00Z")))
    q.processAllAvailable()
    // b4: wm now 00:30 → key 7's buffer drains through 00:20 in EVENT-TIME
    // order (2 → 3 → 4), numbered exactly as the batch operator would:
    // 00:10:30 opens session 2, 00:11:00 stays (30 s ≤ gap), 00:20:00
    // opens session 3 (9 min gap). The unbuffered event-time form had
    // already numbered event 4 into session 2 at fold time — the buffered
    // form is what makes the 00:11→00:20 gap split observable. Key 9 has
    // no data this batch and its timeout (00:15 + gap) is behind the
    // watermark → hasTimedOut flushes its buffer ordered: 21 (00:14)
    // BEFORE 20 (00:15), one shared session (60 s = gap, not >)
    mem.addData(EventStream.Ev(7L, 6L, t("2024-01-01T00:50:00Z")))
    q.processAllAvailable()
    val out = spark.sql("SELECT user_id, event_id, session_n FROM sess_buf")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    q.stop()
    assert(out.toSet === Set(
      (7L, 1L, 1L), (7L, 2L, 2L), (7L, 3L, 2L), (7L, 4L, 3L),
      (9L, 21L, 1L), (9L, 20L, 1L)))
    // events 5/6 still pending (watermark hasn't passed them), 8 dropped
    assert(!out.exists(o => Set(5L, 6L, 8L).contains(o._2)))
  }

  test("EventStream.streamingSessionizeBuffered: randomized batch-operator parity once the watermark drains") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // seeded random events for 2 keys over ~20 min, delivered in three
    // time-sliced shuffled batches whose slice jitter stays well inside
    // the 10-min lateness — so NO row is dropped, and once sentinel
    // batches push the watermark past everything, the full emitted log
    // must equal the BATCH operator's numbering row for row (the
    // buffered form's whole contract)
    val rnd = new scala.util.Random(421L)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val evs = (1 to 30).map { i =>
      val key = 7L + (i % 2)
      val offSec = rnd.nextInt(1200)
      EventStream.Ev(key, i.toLong,
        java.sql.Timestamp.from(base.plusSeconds(offSec)))
    }
    def slice(lo: Int, hi: Int) = rnd.shuffle(
      evs.filter(e => { val s = (e.ts.getTime - base.toEpochMilli) / 1000
        s >= lo && s < hi }))
    val batches = Seq(slice(0, 400), slice(400, 800), slice(800, 1200))
    val mem = MemoryStream[EventStream.Ev]
    val q = EventStream.streamingSessionizeBuffered(mem.toDS(),
        gapSeconds = 90, lateness = "10 minutes").writeStream
      .format("memory").queryName("sess_buf_parity").outputMode("append").start()
    batches.filter(_.nonEmpty).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    // sentinel key 999: two far-future batches — the first advances the
    // watermark past every real row, the second triggers the idle-key
    // timeout flush under that watermark
    mem.addData(EventStream.Ev(999L, 1000L,
      java.sql.Timestamp.from(base.plusSeconds(4000))))
    q.processAllAvailable()
    mem.addData(EventStream.Ev(999L, 1001L,
      java.sql.Timestamp.from(base.plusSeconds(5000))))
    q.processAllAvailable()
    val streamed = spark.sql(
        "SELECT event_id, session_n FROM sess_buf_parity WHERE user_id < 999")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = graft.operators.TimeSeries.sessionize(
        evs.toDF("user_id", "event_id", "ts"), "user_id", "ts", "event_id", 90L)
      .select("event_id", "session_n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size === 30, s"all real rows must flush, got ${streamed.size}")
    assert(streamed === batch)
  }

  test("EventStream.streamingEwmaEventTime: late point beyond watermark cannot rewrite history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Point]
    val q = EventStream.streamingEwmaEventTime(mem.toDS(), alpha = 0.5,
        lateness = "10 minutes", horizonSeconds = 3600L).writeStream
      .format("memory").queryName("sewma_wm").outputMode("append").start()
    mem.addData(
      EventStream.Point("k", t("2024-01-01T00:00:00Z"), 10.0),
      EventStream.Point("k", t("2024-01-01T00:20:00Z"), 20.0))
    q.processAllAvailable() // watermark → 00:10; ewma = 5.0 then 12.5
    mem.addData(
      EventStream.Point("k", t("2024-01-01T00:05:00Z"), 100.0), // beyond → dropped
      EventStream.Point("k", t("2024-01-01T00:21:00Z"), 4.0))   // within → folds
    q.processAllAvailable()
    val out = spark.sql("SELECT ewma FROM sewma_wm ORDER BY ts").collect().map(_.getDouble(0))
    q.stop()
    // the late 100.0 must NOT appear anywhere in the fold chain
    assert(out.toSeq === Seq(5.0, 12.5, 0.5 * 12.5 + 0.5 * 4.0))
  }

  test("CorpusStream.ingestBatch: releases only its own caches; null-text docs dedup by id") {
    import spark.implicits._
    val corpusDir = tmpDir("corpus_cache")
    val sigDir = tmpDir("sigidx_cache")
    // co-resident cached work must survive an ingest tick (the r6 design
    // swept the whole session cache per tick); assert on the DELTA so
    // other suites' leftover caches don't skew the count
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val resident = spark.range(100).toDF("n").persist()
    resident.count()
    // two DISTINCT docs with null text: no content identity, so neither
    // may collapse onto the other (null-never-matches, as incrementalDedup)
    val batch = Seq((1L, Some("alpha beta gamma delta epsilon zeta")),
      (2L, None: Option[String]), (3L, None: Option[String]),
      (3L, None: Option[String])) // same-id null dup → one row
      .toDF("doc_id", "text")
    val n = CorpusStream.ingestBatch(spark, batch, "doc_id", "text",
      corpusDir, sigDir, 3, 32, 8, 0.5, batchId = 0L)
    assert(n === 3L)
    val kept = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 2L, 3L))
    // index holds only the text-bearing doc
    assert(spark.read.parquet(sigDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // the resident cache is untouched; the tick's own persists are gone
    assert(resident.storageLevel.useMemory, "co-resident cache was swept")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- preexisting).size === 1)
    resident.unpersist()
  }

  test("EventStream.attributionJoin: effects within the delay bound match, late ones don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val causes = MemoryStream[(Long, java.sql.Timestamp)]
    val effects = MemoryStream[(Long, java.sql.Timestamp)]
    val out = EventStream.attributionJoin(
      causes.toDF().toDF("cause_id", "cause_ts"),
      effects.toDF().toDF("effect_cause_id", "effect_ts"))
    val q = out.writeStream.format("memory").queryName("attr").outputMode("append").start()
    causes.addData((1L, t("2024-01-01T00:00:00Z")), (2L, t("2024-01-01T00:00:00Z")))
    effects.addData(
      (1L, t("2024-01-01T00:05:00Z")),  // within 15 min → match
      (2L, t("2024-01-01T01:00:00Z")),  // 60 min later → out of bound
      (3L, t("2024-01-01T00:06:00Z")))  // no such cause
    q.processAllAvailable()
    val matched = spark.sql("SELECT cause_id FROM attr").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(matched === Array(1L))
  }

  test("EventStream.streamingEwma: state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = 0.5
    val mem = MemoryStream[EventStream.Point]
    val q = EventStream.streamingEwma(mem.toDS(), a).writeStream
      .format("memory").queryName("sewma").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    mem.addData(EventStream.Point("k", t("2024-01-01T00:00:00Z"), 10.0))
    q.processAllAvailable()
    mem.addData(EventStream.Point("k", t("2024-01-01T00:00:04Z"), 20.0))
    q.processAllAvailable()
    val out = spark.sql("SELECT ewma FROM sewma ORDER BY ts").collect().map(_.getDouble(0))
    q.stop()
    assert(out(0) === 5.0)                 // 0.5*10
    assert(out(1) === 0.5 * 5.0 + 0.5 * 20.0) // state survived the batch boundary
  }

  test("EventStream.streamingEwma: cold-start value for a fresh key matches the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = 0.3
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val pts = Seq(EventStream.Point("fresh", t("2024-01-01T00:00:00Z"), 12.5),
      EventStream.Point("fresh", t("2024-01-01T00:00:01Z"), 4.0))
    // batch reference: same points through the batch operator
    val batch = graft.operators.Ewma.withEwma(
      pts.toDF(), "key", Seq("ts"), "value", a, "ewma")
      .orderBy("ts").collect().map(_.getDouble(3))
    val mem = MemoryStream[EventStream.Point]
    val q = EventStream.streamingEwma(mem.toDS(), a).writeStream
      .format("memory").queryName("sewma_cold").outputMode("append").start()
    mem.addData(pts: _*)
    q.processAllAvailable()
    val stream = spark.sql("SELECT ewma FROM sewma_cold ORDER BY ts")
      .collect().map(_.getDouble(0))
    q.stop()
    // exact equality: both fold (1-a)*state + a*v from state 0.0 in the
    // same order, so the doubles must be bitwise identical
    assert(stream.toSeq === batch.toSeq)
    assert(stream(0) === a * 12.5)
  }

  /** Wait until the memory sink `table` holds `n` rows, then stop `q`; fail
    * after 60 s. An `idleTimeout` query never terminates under
    * AvailableNow (it keeps planning no-data timeout batches), so it is
    * stopped once its one data batch has landed. */
  private def awaitSinkRows(q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, n: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    try {
      while (spark.table(table).count() < n) {
        q.exception.foreach(e => fail(s"query $table failed", e))
        if (System.nanoTime() > deadline) fail(s"$table did not reach $n rows in 60 s")
        Thread.sleep(50)
      }
    } finally q.stop()
  }

  test("EventStream.streamingEwma: idleTimeout in-engine single batch keeps values; state registered") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = 0.5
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Point]
    // one micro-batch through the real engine with the timeout conf ON:
    // the setTimeoutDuration/hasTimedOut code path runs and values are
    // unchanged vs the no-timeout operator (same pattern as the
    // sessionize idleTimeout test; see ewmaTick's scaladoc for why
    // cross-batch eviction is tested at the unit level instead)
    mem.addData(EventStream.Point("k", t("2024-01-01T00:00:00Z"), 10.0),
      EventStream.Point("k", t("2024-01-01T00:00:04Z"), 20.0))
    val q = EventStream.streamingEwma(mem.toDS(), a, idleTimeout = Some("1 hour"))
      .writeStream
      .format("memory").queryName("sewma_to").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitSinkRows(q, "sewma_to", 2)
    val out = spark.sql("SELECT ewma FROM sewma_to ORDER BY ts")
      .collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(5.0, 0.5 * 5.0 + 0.5 * 20.0))
  }

  test("EventStream.ewmaTick: timed-out state is evicted; late arrival re-seeds from 0.0") {
    import org.apache.spark.sql.streaming.TestGroupState
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val a = 0.5
    val tick = EventStream.ewmaTick(a, Some("10 minutes")) _
    // key with live state whose deadline lapsed: the timeout invocation
    // (no rows) must remove the state and emit nothing
    val timedOut = TestGroupState.create[EventStream.EwmaState](
      optionalState = org.apache.spark.api.java.Optional.of(EventStream.EwmaState(5.0)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    assert(tick("k", Iterator.empty, timedOut).isEmpty)
    assert(timedOut.isRemoved, "timed-out state must be evicted")
    // the key returns after eviction: a fresh state re-seeds from 0.0
    // (first value α·v — the cold-start convention), NOT from the old 5.0
    val fresh = TestGroupState.create[EventStream.EwmaState](
      optionalState = org.apache.spark.api.java.Optional.empty[EventStream.EwmaState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 2000000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = tick("k", Iterator(EventStream.Point("k", t("2024-01-01T01:00:00Z"), 10.0)),
      fresh).toSeq
    assert(out.map(_.ewma) === Seq(a * 10.0))
    assert(fresh.getTimeoutTimestampMs.isPresent, "re-seeded key must re-register its timeout")
    assert(fresh.get === EventStream.EwmaState(a * 10.0))
  }

  test("EventStream.streamingSessionize: idleTimeout keeps numbering for active keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[EventStream.Ev]
    // both events land in ONE micro-batch: the timeout code path
    // (setTimeoutDuration after update, hasTimedOut branch compiled in)
    // executes, and the gap numbering must be unchanged. Cross-batch
    // waits are avoided deliberately — with a registered processing-time
    // timeout the no-more-data query keeps scheduling timeout-check
    // batches, which wedges processAllAvailable-style synchronization.
    mem.addData(
      EventStream.Ev(7L, 1L, t("2024-01-01T00:00:00Z")),
      EventStream.Ev(7L, 2L, t("2024-01-01T00:10:00Z")))
    val q = EventStream.streamingSessionize(mem.toDS(), gapSeconds = 60,
        idleTimeout = Some("1 hour")).writeStream
      .format("memory").queryName("sess_to").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitSinkRows(q, "sess_to", 2)
    val out = spark.sql("SELECT event_id, session_n FROM sess_to ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L)))
  }

  test("ParquetMeta.columnStats: per-column min/max/nulls from the footer") {
    import spark.implicits._
    val dir = tmpDir("colstats") + "/data"
    Seq((1L, Some(2.5), "a"), (7L, None, "z"), (3L, Some(-1.0), "m"))
      .toDF("k", "v", "s").coalesce(1).write.parquet(dir)
    val f = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .toArray.head.toString
    val stats = ParquetMeta.columnStats(spark, f)
    val byCol = stats.groupBy(_.column)
    assert(byCol.keySet === Set("k", "v", "s"))
    val k = byCol("k").head
    assert(k.min === "1" && k.max === "7" && k.nulls === 0 && k.values === 3)
    val v = byCol("v").head
    assert(v.min === "-1.0" && v.max === "2.5" && v.nulls === 1)
    val s = byCol("s").head
    assert(s.min === "a" && s.max === "z")
    assert(stats.forall(_.physicalType.nonEmpty))
    assert(ParquetMeta.columnStatsDF(spark, f).count() === 3)
  }

  test("ParquetMeta + Reconcile: footer counts match D-lines without data scan") {
    val in = tmpDir("rin")
    val lake = tmpDir("rlake")
    Files.write(Paths.get(in, "PUBLIC_FPP_20250607.csv"),
      NemFixture.csv.getBytes(StandardCharsets.UTF_8))
    graft.sources.NemCsv.splitToLake(spark, Seq(s"$in/PUBLIC_FPP_20250607.csv"), lake)
    val metas = ParquetMeta.readDir(spark, s"$lake/FPP---UNIT_MW---1")
    assert(metas.map(_.rows).sum === 4)
    assert(metas.forall(_.rowGroups >= 1))
    val rep = Reconcile.run(spark, Seq(s"$in/PUBLIC_FPP_20250607.csv"), lake)
      .orderBy("table").collect()
    assert(rep.length === 2)
    assert(rep.forall(_.getAs[Boolean]("matches")))
  }
}
