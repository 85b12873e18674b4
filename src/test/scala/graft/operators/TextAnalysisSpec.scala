package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("tfidfKeywords: exact tf/df stats, stopword prune, top-k per doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark parquet common common"),
      (2L, "duck arrow common common"),
      (3L, "spark arrow common")
    ).toDF("doc_id", "text")
    // df: spark=2, parquet=1, duck=1, arrow=2, common=3 (all 3 docs)
    val out = TextAnalysis.tfidfKeywords(df, "doc_id", "text", k = 2, maxDfFrac = 0.9)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // "common" appears in all 3 docs > 0.9*3 = 2.7 → pruned everywhere
    assert(!out.exists(_._2 == "common"))
    val d1 = out.filter(_._1 == 1L).sortBy(_._6)
    // doc 1: spark tf=2 df=2 score=2*3/2=3.0 beats parquet tf=1 df=1 score=3.0
    // — equal scores tie-break on the term: "parquet" < "spark"
    assert(d1.map(_._2).toSeq === Seq("parquet", "spark"))
    assert(d1.forall(_._5 === 3.0))
    // k caps per-doc output
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("temperatureMix: sqrt-weighted integer targets, deterministic fill, small-stratum cap") {
    import spark.implicits._
    val docs = ((1L to 100L).map(i => (i, "big")) ++ (101L to 125L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    // w_micro: floor(sqrt(100)*1e6)=10_000_000, floor(sqrt(25)*1e6)=5_000_000
    // targets at budget 30: (30*10e6) div 15e6 = 20; (30*5e6) div 15e6 = 10
    val out = TextAnalysis.temperatureMix(docs, "doc_id", "source", budget = 30L)
    val bySrc = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc === Map("big" -> 20L, "small" -> 10L))
    // deterministic: a second invocation selects the identical ids
    val ids1 = out.select("id").collect().map(_.getLong(0)).sorted
    val ids2 = TextAnalysis.temperatureMix(docs, "doc_id", "source", budget = 30L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids1 === ids2)
    // a target above the stratum size degrades to "take the whole stratum"
    val tiny = ((1L to 4L).map(i => (i, "a")) ++ (5L to 8L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val all = TextAnalysis.temperatureMix(tiny, "doc_id", "source", budget = 100L)
    assert(all.count() === 8L)
  }

  test("chunkDocuments: full coverage with overlap, short docs whole, null/empty dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens, chunk=4 step=3
      (2L, "a b"),                                    // shorter than one chunk
      (3L, ""),                                       // empty → dropped
      (4L, null.asInstanceOf[String])                 // null → dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // n=10, step=3: nc = ceil(6/3)+1 = 3 chunks at offsets 0,3,6
    assert(d1.map(_._5).toSeq === Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.forall(_._3 == 3))
    assert(d1.map(_._4).toSeq === Seq(4, 4, 4))
    // consecutive chunks share exactly `overlap` tokens
    assert(d1(0)._5.split(" ").last === d1(1)._5.split(" ").head)
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length === 1 && d2(0)._5 === "a b" && d2(0)._4 === 2)
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("chunkDocuments: reconstruction invariant over randomized sizes and overlaps") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (1L to 40L).map { i =>
      val n = 1 + rnd.nextInt(150)
      (i, (1 to n).map(k => s"t$k").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((c, o) <- Seq((16, 0), (16, 4), (7, 3), (50, 49))) {
      val byDoc = TextAnalysis.chunkDocuments(df, "doc_id", "text", c, o)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getString(4)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val chunks = byDoc(id).sortBy(_._2)
        // dropping the overlap from every chunk after the first must
        // reassemble the exact token stream — full coverage, no gaps,
        // no double-counted tokens
        val rebuilt = chunks.head._4.split(" ").toSeq ++
          chunks.tail.flatMap(_._4.split(" ").drop(o).toSeq)
        assert(rebuilt.mkString(" ") === text, s"doc $id c=$c o=$o")
        // the declared chunk_tokens matches the actual chunk text
        chunks.foreach { ch => assert(ch._4.split(" ").length === ch._3) }
      }
    }
  }

  test("vocabularyDrift: identical rates drift zero, appeared/vanished tokens rank top, signs") {
    import spark.implicits._
    // A: a=2 b=1 spike=1 (total 4); B: a=2 b=2 (total 4)
    // a keeps rate 1/2 -> drift 0; spike appears (+4); b doubles (-4)
    val a = Seq((1L, "a a b spike")).toDF("doc_id", "text")
    val b = Seq((2L, "a a b b")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabularyDrift(a, b, "doc_id", "text", k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    assert(out("a") === ((2L, 2L, 0L, 0L, 3)))
    assert(out("b") === ((1L, 2L, -4L, 4L, 1)))      // drift tie: "b" < "spike"
    assert(out("spike") === ((1L, 0L, 4L, 4L, 2)))
  }

  test("domainProfile: host extraction, per-domain doc vs ref counts, lowercasing") {
    import spark.implicits._
    val df = Seq(
      (1L, "see https://EN.Wikipedia.org/wiki/Spark and https://en.wikipedia.org/wiki/Flink"),
      (2L, "also http://en.wikipedia.org/x plus https://duckdb.org/docs"),
      (3L, "no links here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.domainProfile(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // mixed-case hosts fold together; doc 1 references it twice, doc 2 once
    assert(out("en.wikipedia.org") === (2L, 3L))
    assert(out("duckdb.org") === (1L, 1L))
    assert(out.size === 2)
  }

  test("domainProfile: ports and userinfo fold into the bare domain") {
    import spark.implicits._
    val df = Seq(
      (1L, "a http://x.example.org:8080/path b"),
      (2L, "c https://anon@x.example.org/pub d"),
      (3L, "e https://x.example.org/plain f"),
      (4L, "g (http://User@X.example.org:443) h") // userinfo + port + case + wrapping punct
    ).toDF("doc_id", "text")
    val out = TextAnalysis.domainProfile(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // all four authority spellings are one domain
    assert(out === Map("x.example.org" -> ((4L, 4L))))
  }

  test("countMinSketch/cmEstimate: row mass conservation, est >= exact, unseen token 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "alpha beta beta delta"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val depth = 3
    val width = 8 // tiny width forces collisions — the estimate must still bound
    val sketch = TextSketches.countMinSketch(df, "text", depth, width)
    // every row of the sketch counts every token occurrence exactly once
    val rowMass = sketch.groupBy("row").agg(sum("cnt").as("mass"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rowMass === (0 until depth).map(_ -> 8L).toMap) // 8 tokens total
    val cands = Seq("alpha", "beta", "gamma", "delta", "unseen").toDF("tok")
    val est = TextSketches.cmEstimate(sketch, cands, "tok", depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("alpha" -> 3L, "beta" -> 3L, "gamma" -> 1L, "delta" -> 1L)
    // CM guarantee: estimate never undercounts; a never-counted token
    // may collide into occupied cells but min-over-rows stays bounded
    exact.foreach { case (t, c) => assert(est(t) >= c, s"$t: ${est(t)} < $c") }
    assert(est("unseen") >= 0L && est("unseen") <= 8L)
  }

  test("hllRegisters: dense m rows, merge = per-bucket max, estimate within HLL error") {
    import spark.implicits._
    val a = (0 until 600).map(i => s"key_a_$i").toDF("k")
    val b = (0 until 500).map(i => s"key_b_$i").toDF("k")
    val p = 8
    val m = 1 << p
    def regs(df: org.apache.spark.sql.DataFrame) =
      TextSketches.hllRegisters(df, col("k"), p)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (ra, rb) = (regs(a), regs(b))
    val ru = regs(a.union(b))
    assert(ra.size === m && ru.size === m)
    // mergeability — the property that lets per-shard sketches roll up
    // without touching row data
    assert(ru === (0 until m).map(i => i.toLong -> math.max(ra(i), rb(i))).toMap)
    // raw-estimate accuracy at n=1100, m=256: typical error 1.04/sqrt(m)
    // ≈ 6.5%; assert a generous 4-sigma band so the test never flakes
    val denom = ru.values.map(r => math.pow(2.0, -r)).sum
    val estim = 0.7213 / (1.0 + 1.079 / m) * m * m / denom
    assert(math.abs(estim - 1100.0) / 1100.0 < 0.26, s"estimate $estim vs 1100")
  }

  test("bpeTrain: hand-computed merge sequence with ties and overlapping runs; early stop") {
    import spark.implicits._
    // 3×banana + 2×bandana. Pair counts: (a,n)=10, (n,a)=8, (b,a)=5 →
    // merge 0 = (a,n). Then (b,an)=5 ties (an,a)=5 → lex on l: "an"<"b"
    // → merge 1 = (an,a). Then merge 2 = (b,an)=5.
    val docs = Seq(
      (1L, "banana banana banana"),
      (2L, "bandana bandana")
    ).toDF("doc_id", "text")
    val out = Bpe.bpeTrain(docs, "text", numMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out === Seq((0, "a", "n", 10L), (1, "an", "a", 5L), (2, "b", "an", 5L)))
    // overlapping-run greedy: "aaaa" merges to "aa","aa" then "aaaa" —
    // counts: iter0 (a,a)=3, iter1 (aa,aa)=1
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val rout = Bpe.bpeTrain(runs, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rout === Seq((0, "a", "a", 3L), (1, "aa", "aa", 1L)))
    // asked for 5 merges, vocabulary exhausted after 2 → early stop
  }

  test("bpeTrainBatched: batchSize=1 ≡ classic argmax; a disjoint batch trains in one round") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    // degenerate case: batchSize=1 is the classic argmax — the hand-computed
    // banana/bandana table above, including the (an,a)-vs-(b,an) count tie
    // broken lexicographically
    val docs = Seq((1L, "banana banana banana"), (2L, "bandana bandana"))
      .toDF("doc_id", "text")
    assert(rows(Bpe.bpeTrainBatched(docs, "text", numMerges = 3, batchSize = 1))
      === Seq((0, "a", "n", 10L), (1, "an", "a", 5L), (2, "b", "an", 5L)))
    // 8 pairwise-disjoint top pairs (16 distinct symbols, counts 16..9):
    // the conflict-free prefix takes all 8 in ONE round, and because
    // disjoint merges don't perturb each other's counts the merge table
    // is identical to the sequential schedule — in a fraction of the jobs
    val corpus = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op").zipWithIndex
      .map { case (w, i) => (i.toLong, Seq.fill(16 - i)(w).mkString(" ")) }
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    // force the DISTRIBUTED loops: the round-collapse job-count property
    // lives there (the r20 driver fast path takes this tiny corpus in
    // ~2 jobs on BOTH sides, making the ratio assertion meaningless)
    spark.conf.set("spark.graft.bpe.driverInputLimit", "0")
    sc.setJobGroup("bpe_seq", "sequential train")
    val seq = try rows(Bpe.bpeTrain(corpus, "text", numMerges = 8))
      finally sc.clearJobGroup()
    val seqJobs = sc.statusTracker.getJobIdsForGroup("bpe_seq").length
    sc.setJobGroup("bpe_bat", "batched train")
    val bat = try rows(Bpe.bpeTrainBatched(corpus, "text", numMerges = 8, batchSize = 8))
      finally {
        sc.clearJobGroup()
        spark.conf.unset("spark.graft.bpe.driverInputLimit")
      }
    val batJobs = sc.statusTracker.getJobIdsForGroup("bpe_bat").length
    assert(bat === seq)
    assert(bat.map(m => (m._2, m._3)) ===
      Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op").map(w => (w(0).toString, w(1).toString)))
    // ≥ 4 merges per round means ≤ 1/4 the driver round-trips; assert the
    // job count collapsed (8 rounds → 1) with headroom for scheduler noise
    assert(batJobs * 2 <= seqJobs, s"batched=$batJobs jobs vs sequential=$seqJobs")
  }

  test("bpeEncode: rank-order merges, l==r islands branch, vocab reuse across docs") {
    import spark.implicits._
    // merge 0 = (a,a): "aaab" → [aa, a, b] (greedy: only even offsets of
    // the run merge); merge 1 = (aa,b): "aab" → [aab], "aaab" unchanged
    // (aa followed by a, not b)
    val docs = Seq(
      (1L, "aaab aab"),
      (2L, "aab")  // same word as doc 1's second — one vocab row encodes both
    ).toDF("doc_id", "text")
    val out = Bpe.bpeEncode(docs, "doc_id", "text",
        Seq(("a", "a"), ("aa", "b")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) === ((4L, "aa a b aab")))
    assert(out(2L) === ((1L, "aab")))
  }

  test("tokenHistogram: power-of-two buckets, bounds, cumulative; empty and null text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a"),                        // 1 token  → bucket 1 [1,1]
      (2L, "a b"),                      // 2 tokens → bucket 2 [2,3]
      (3L, "a b c"),                    // 3 tokens → bucket 2
      (4L, "a b c d"),                  // 4 tokens → bucket 3 [4,7]
      (5L, "a b c d e f g h"),          // 8 tokens → bucket 4 [8,15]
      (6L, ""),                         // 0 tokens → bucket 0 [0,0]
      (7L, null.asInstanceOf[String])   // skipped
    ).toDF("doc_id", "text")
    val out = TextSketches.tokenHistogram(docs, "text")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out === Map(
      0 -> ((0L, 0L, 1L, 1L)),
      1 -> ((1L, 1L, 1L, 2L)),
      2 -> ((2L, 3L, 2L, 4L)),
      3 -> ((4L, 7L, 1L, 5L)),
      4 -> ((8L, 15L, 1L, 6L))))
  }

  test("pmiBigrams: collocation lift exact, independents near 1, minCount prunes") {
    import spark.implicits._
    // "new york" always adjacent; fillers vary. 6 docs x 4 tokens.
    val docs = (0 until 6).map { i =>
      (i.toLong, s"new york tok$i other")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiBigrams(docs, "doc_id", "text", topK = 10, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // c_xy=6, N=24, N2=18, c_x=c_y=6 → lift = 6*24*24/(18*6*6) = 16/3
    val (cxy, cx, cy, lift) = out(("new", "york"))
    assert(cxy === 6L && cx === 6L && cy === 6L)
    assert(lift === 6.0 * 24 * 24 / (18.0 * 6 * 6))
    // rare bigrams (each "york tokI" occurs once) pruned by minCount=2
    assert(!out.keySet.exists(_._2.startsWith("tok")))
  }

  test("epochMix: integer + fractional epochs, zero-factor drop, determinism") {
    import spark.implicits._
    val docs = ((1L to 40L).map(i => (i, "a")) ++ (41L to 60L).map(i => (i, "b"))
      ++ (61L to 70L).map(i => (i, "z"))).toDF("doc_id", "source")
    def run() = TextAnalysis.epochMix(docs, "doc_id", "source",
      Map("a" -> 2.5, "z" -> 0.0), defaultEpochs = 1.0)
    val out = run().collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._4).sorted.toSeq).toMap
    // 'a' docs: 2 full epochs + a deterministic half get a third; with 40
    // docs both outcomes must occur, and epochs are always 0..n-1
    val aCounts = (1L to 40L).map(i => byDoc(i).length)
    assert(aCounts.forall(n => n == 2 || n == 3) && aCounts.toSet.size == 2)
    (1L to 40L).foreach(i => assert(byDoc(i) === (0 until byDoc(i).length)))
    // default stratum: exactly one epoch
    assert((41L to 60L).forall(i => byDoc(i) === Seq(0)))
    // factor 0: dropped entirely
    assert((61L to 70L).forall(i => !byDoc.contains(i)))
    // deterministic across invocations
    assert(run().collect().map(r => (r.getLong(0), r.getInt(3))).sorted
      === out.map(t => (t._1, t._4)).sorted)
  }

  test("cmMerge/hllMerge/histogramMerge: shard sketches merge losslessly to the whole-corpus sketch") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"tok${i % 7} tok${i % 5} shared"))
      .toDF("doc_id", "text")
    val whole = TextSketches.countMinSketch(docs, "text", depth = 4, width = 32)
    val merged = TextSketches.cmMerge((0 until 3).map(k =>
      TextSketches.countMinSketch(docs.filter($"doc_id" % 3 === k), "text",
        depth = 4, width = 32)))
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
    val rWhole = TextSketches.hllRegisters(docs, col("text"), p = 6)
    val rMerged = TextSketches.hllMerge((0 until 3).map(k =>
      TextSketches.hllRegisters(docs.filter($"doc_id" % 3 === k), col("text"), p = 6)))
    assert(rMerged.except(rWhole).isEmpty && rWhole.except(rMerged).isEmpty)
    // histogram: shards span different buckets; counts add, cum re-derives
    val vdocs = (1L to 30L).map(i => (i, ("w " * (i % 5 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val hWhole = TextSketches.tokenHistogram(vdocs, "text")
    val hMerged = TextSketches.histogramMerge((0 until 3).map(k =>
      TextSketches.tokenHistogram(vdocs.filter($"doc_id" % 3 === k), "text")))
    assert(hMerged.except(hWhole).isEmpty && hWhole.except(hMerged).isEmpty)
  }

  test("qualityLogit: hand-computed logit chain, decision boundary, null text nulls") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and dog of the house is here"), // all 4 stopwords hit
      (2L, ""),                                     // empty → logit = bias
      (3L, null.asInstanceOf[String]),              // null → null review row
      (4L, "111 222 333")                           // digit-heavy → rejected
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityLogit(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 36 chars, 9 tokens, 28 non-space chars, no punct/digits —
    // the same left-to-right IEEE chain the operator builds
    val logit1 = -1.25 + 1.75 * (36.0 / 500.0) + -2.5 * 0.0 +
      0.875 * (28.0 / 9.0 / 12.0) + 1.5 * 1.0 + -1.125 * 0.0
    assert(out(1L).getDouble(6) === logit1 && out(1L).getBoolean(7))
    // doc 2: every feature 0 → logit = bias weight, below the boundary
    assert(out(2L).getDouble(6) === -1.25 && !out(2L).getBoolean(7))
    // doc 3: null text → null features, null logit, null keep
    assert((1 to 7).forall(out(3L).isNullAt))
    // doc 4: 9 of 11 chars are digits → digit penalty rejects
    val logit4 = -1.25 + 1.75 * (11.0 / 500.0) + -2.5 * 0.0 +
      0.875 * (9.0 / 3.0 / 12.0) + 1.5 * 0.0 + -1.125 * (9.0 / 11.0)
    assert(out(4L).getDouble(6) === logit4 && !out(4L).getBoolean(7))
  }

  test("scan-speed operators keep shuffle-free physical plans") {
    import spark.implicits._
    val docs = Seq((1L, "a b c", "s")).toDF("doc_id", "text", "source")
    // PLANS.md claims these ride the corpus scan — enforce it: the
    // OPERATOR output (no orderBy wrapper) must contain no Exchange
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!planOf(TextAnalysis.blocklistFilter(docs, "doc_id", "text", Seq("a")))
      .contains("Exchange"))
    assert(!planOf(TextAnalysis.qualityLogit(docs, "doc_id", "text"))
      .contains("Exchange"))
    assert(!planOf(TextAnalysis.epochMix(docs, "doc_id", "source", Map("s" -> 2.0)))
      .contains("Exchange"))
    assert(!planOf(TextAnalysis.chunkDocuments(docs, "doc_id", "text", 32, 8))
      .contains("Exchange"))
  }

  test("datasetCard: exact volumes, dup pressure, sorted lang distribution") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "the quick brown fox", "en"),   // exact dup content
      (3L, "der schnelle fuchs", "de"),
      (4L, "", "en"),                      // empty ≠ null: counts, quality 0.5
      (5L, null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.datasetCard(docs, "doc_id", "text", "lang").collect().head
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("n_null_text") === 1L)
    assert(r.getAs[Long]("n_tokens") === 11L)         // 4 + 4 + 3 + 0 + 0
    assert(r.getAs[Long]("n_chars") === 56L)          // 19 + 19 + 18 + 0
    assert(r.getAs[Long]("n_distinct_texts") === 3L)  // dup collapses; null skipped
    assert(r.getAs[Long]("n_quality_keep") === 4L)    // "" scores exactly 0.5
    assert(r.getAs[String]("langs") === "de:1 en:3 unk:1")
  }

  test("qualityLogitExpr: composable expression path identical to qualityLogit's column") {
    import spark.implicits._
    val docs = Seq((1L, "the cat and dog"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def m(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val viaOp = m(TextAnalysis.qualityLogit(docs, "doc_id", "text")
      .select(col("id"), col("logit")).collect())
    val viaExpr = m(docs.select(col("doc_id"),
      TextAnalysis.qualityLogitExpr(col("text"))).collect())
    assert(viaOp === viaExpr && viaExpr(3L).isEmpty)
  }

  test("blocklistFilter: whole-token matches only, occurrence counts, sorted distinct terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Slow scan on the scanner"), // case-normalized; "scanner" must NOT match
      (2L, "all clean here"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "scan scan spill")           // repeated term counts every occurrence
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(docs, "doc_id", "text",
        Seq("slow", "scan", "spill")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) === 2 && out(1L).getString(2) === "scan slow"
      && !out(1L).getBoolean(3))
    assert(out(2L).getInt(1) === 0 && out(2L).getString(2) === "" && out(2L).getBoolean(3))
    assert(out(3L).getInt(1) === 0 && out(3L).getBoolean(3))
    assert((1 to 3).forall(out(4L).isNullAt))
    assert(out(5L).getInt(1) === 3 && out(5L).getString(2) === "scan spill"
      && !out(5L).getBoolean(3))
  }
}
