package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.PlanApi

class DedupSpec extends SparkSpec {

  def docs() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks over the hill"
    Seq(
      (1L, base),
      (2L, base),                                               // exact dup of 1
      (3L, base.replace("dawn", "dusk")),                       // near dup of 1
      (4L, "completely different content about spark query engines and parquet columnar storage layers"),
      (5L, "yet another unrelated document mentioning neither foxes nor dogs just tables and joins everywhere")
    ).toDF("doc_id", "text")
  }

  test("exact dedup: hash groups and keep-first survivors") {
    val g = Dedup.exactGroups(docs(), "doc_id", "text").collect()
    assert(g.length === 4) // 1&2 collapse
    assert(g.find(_.getLong(1) == 2).get.getLong(2) === 1L) // keep min id
    val survivors = Dedup.exactDedup(docs(), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors === Array(1L, 3L, 4L, 5L))
  }

  test("minhash LSH: finds planted near-dup pairs, jaccard verified") {
    val pairs = Dedup.minhashNearDupPairs(docs(), "doc_id", "text",
      shingleLen = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup always found
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup found
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated not paired
  }

  test("ngram jaccard inverted index agrees with LSH on exact dups") {
    val pairs = Dedup.ngramJaccardPairs(docs(), "doc_id", "text",
      shingleLen = 3, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: exact dups at hamming 0; near dups within threshold; no cartesian") {
    val sig = Dedup.simhash(docs(), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(2L))
    val pairs = Dedup.simhashNearDupPairs(docs(), "doc_id", "text", maxHamming = 16)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("connectedComponents: chains collapse to min label; disjoint groups stay apart") {
    import spark.implicits._
    // components: {1,2,3,4} via chain, {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // fast path (driver union-find, the under-limit regime) …
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === expected)
    // … and the distributed label-propagation loop (forced by a zero
    // limit) must agree exactly — both on the chain and on a reversed,
    // shuffled edge list (union order must not matter)
    val dist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expected)
    val shuffled = Seq((11L, 10L), (4L, 3L), (2L, 1L), (3L, 2L))
      .toDF("id_a", "id_b")
    val comps2 = Dedup.connectedComponents(shuffled)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps2 === expected)
  }

  test("incrementalDedup: corpus collisions dropped, fresh and null-text rows survive, corpus never shuffles") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "already ingested content one"),
      (2L, "already ingested content two")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already ingested content one"),    // dup of corpus 1 → dropped
      (11L, "Already  Ingested Content TWO "),  // normalized dup of 2 → dropped
      (12L, "genuinely new document"),          // survives
      (13L, null.asInstanceOf[String])          // null fp → survives
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus, "text")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted === Array(12L, 13L))
    // both joins broadcast the batch-bounded side: no shuffle of corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join in:\n$plan")
  }

  test("simhash chunk mask at width 64 (maxHamming=0): exact dups pair beyond maxBucket") {
    import spark.implicits._
    // one 64-bit chunk -> (1L << 64) wraps to 1L in JVM shift semantics;
    // an unguarded mask would be 0, folding all 300 docs into ONE bucket:
    // past maxBucket that bucket goes rep-star and the planted pair
    // (neither member the bucket min) is silently lost
    val docs = (1L to 300L).map { i =>
      if (i == 150L || i == 250L) (i, "identical planted duplicate text body")
      else (i, s"unique filler document number $i with distinct content")
    }.toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((150L, 250L)))
    spark.catalog.clearCache()
  }

  test("incrementalNearDup: batch probes the signature index, corpus never shuffles") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again until dawn"),
      (2L, "completely different words about gardening and flowers blooming in spring rain")
    ).toDF("doc_id", "text")
    val corpusSig = Dedup.minhashSignature(corpus, "doc_id", "text",
      shingleLen = 3, numHashes = 16)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again until dusk"), // near-dup of 1
      (11L, "entirely novel content mentioning satellites and orbital mechanics tonight")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, corpusSig, "doc_id", "text",
      shingleLen = 3, numHashes = 16, bands = 4, minAgree = 0.5)
    val hits = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(hits.exists(h => h._1 == 10L && h._2 == 1L && h._3 >= 0.5))
    assert(!hits.exists(h => h._1 == 11L)) // novel doc matches nothing
    // batch side broadcasts into both the index probe and the verify
    // join: the corpus signature table is scanned, never shuffle-joined
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join in:\n$plan")
    spark.catalog.clearCache()
  }

  test("spanDedup: repeated blocks keep first occurrence; docs reassemble in order") {
    import spark.implicits._
    // blockWords=3 → doc 1 = [A B C][D E F]; doc 2 repeats block [a b c]
    // then fresh words; doc 3 is entirely doc 1's first block; doc 4
    // repeats its own first block (within-doc dedup)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "A B C x y z"),   // normalizes to doc 1's first block + new block
      (3L, "a b c"),
      (4L, "p q r p q r")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", blockWords = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d e f")))   // first owner keeps all
    assert(out(2L) === ((2L, 1L, "x y z")))          // duplicate block stripped
    assert(out(3L) === ((1L, 0L, "")))               // nothing left
    assert(out(4L) === ((2L, 1L, "p q r")))          // internal repeat collapses
  }

  test("substringDedup catches an offset duplicate that block-aligned spanDedup misses") {
    import spark.implicits._
    // doc 2 repeats doc 1's 6-word passage OFFSET BY ONE word ("x" shim):
    // no 4-word BLOCK of doc 2 equals any block of doc 1, so spanDedup
    // at blockWords=4 keeps doc 2 whole — but every stride-1 4-word
    // window of the passage matches, so substringDedup strips it
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x a b c d e f q r s")
    ).toDF("doc_id", "text")
    val span = Dedup.spanDedup(docs, "doc_id", "text", blockWords = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(span(2L) === ((3L, 3L, "x a b c d e f q r s"))) // offset dup slips through
    val sub = Dedup.substringDedup(docs, "doc_id", "text", windowWords = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(sub(1L) === ((8L, 8L, "a b c d e f g h")))      // first owner keeps all
    // doc 2's windows at pos 1..3 ("a b c d".."c d e f") match doc 1 →
    // positions 1..6 covered; the shim and fresh tail survive
    assert(sub(2L) === ((10L, 4L, "x q r s")))
  }

  test("substringDedup: short docs pass whole; within-doc repeat collapses; full copy empties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny doc"),                    // < windowWords → untouched
      (2L, "p q r s p q r s"),             // within-doc repeat at stride 4
      (3L, "m n o p q r"),
      (4L, "m n o p q r")                  // exact copy of 3 → fully covered
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", windowWords = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((2L, 2L, "tiny doc")))
    assert(out(2L) === ((8L, 4L, "p q r s")))  // second occurrence stripped
    assert(out(3L) === ((6L, 6L, "m n o p q r")))
    assert(out(4L) === ((6L, 0L, "")))         // nothing left
  }

  test("substringDedup: a long fully-duplicated doc dedups linearly (no array membership scan)") {
    import spark.implicits._
    // r8 task #7 guard: a ~30k-token doc whose EVERY position is covered
    // by dup windows is the case where the old collected-array
    // `array_contains` membership scan went O(tokens × covered) —
    // quadratic, ~9·10^8 comparisons here. The linear (id, pos) equi-join
    // must (a) keep that shape in the plan and (b) finish comfortably.
    val n = 30000
    val longText = (0 until n).map(i => s"t$i").mkString(" ") // unique tokens:
    // doc 1 has no within-doc repeats, so it must survive intact
    val docs = Seq((1L, longText), (2L, longText)).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", windowWords = 20)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("array_contains"),
      s"covered-set membership regressed to an array scan:\n$plan")
    val rows = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) === ((n.toLong, n.toLong))) // first owner keeps all
    assert(rows(2L) === ((n.toLong, 0L)))       // full copy strips to nothing
  }

  test("incrementalSemanticDedup: multi-probe finds a cross-cell near-dup; corpus rides broadcasts") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val corpus = Seq(
      (1L, Array(1.0f, 0.05f)),  // cell 0
      (2L, Array(0.05f, 1.0f)),  // cell 1
      (3L, Array(0.72f, 0.70f))  // near the boundary, lands in cell 0
    ).toDF("vec_id", "embedding")
    val idx = Dedup.semanticIndex(corpus, "vec_id", "embedding", cents)
    assert(idx.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      === Map(1L -> 0, 2L -> 1, 3L -> 0))
    // batch 10 sits in cell 0 next to corpus 1; batch 11 is a near-dup of
    // corpus 3 but its NEAREST cell is 1 (0.73 > 0.69) — only the second
    // probe reaches 3's cell
    val batch = Seq(
      (10L, Array(0.9f, 0.1f)),
      (11L, Array(0.69f, 0.73f))
    ).toDF("vec_id", "embedding")
    def pairs(nprobe: Int) = Dedup.incrementalSemanticDedup(
        batch, idx, "vec_id", "embedding", cents, minCosine = 0.95, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(1) === Set((10L, 1L))) // single probe misses the boundary dup
    assert(pairs(2) === Set((10L, 1L), (11L, 3L))) // multi-probe finds it
    // the huge-batch degradation (shuffle hash join on cell) must return
    // the identical pair set
    assert(Dedup.incrementalSemanticDedup(batch, idx, "vec_id", "embedding",
        cents, minCosine = 0.95, nprobe = 2, broadcastBatch = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((10L, 1L), (11L, 3L)))
    // the corpus-index join is a broadcast of the batch side — never a
    // shuffle of the index, never a cartesian against it
    val plan = Dedup.incrementalSemanticDedup(
      batch, idx, "vec_id", "embedding", cents, minCosine = 0.95, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"index probe not broadcast:\n$plan")
  }

  test("incrementalSubstringDedup: batch passages in the index strip; index never shuffles") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "completely different words about gardening and flowers blooming")
    ).toDF("doc_id", "text")
    val idx = Dedup.windowFingerprints(corpus, "doc_id", "text", windowWords = 4)
    val batch = Seq(
      (10L, "x y a b c d e f q r"), // corpus passage at offset 2 → stripped
      (11L, "entirely novel content mentioning satellites and orbits")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalSubstringDedup(batch, idx, "doc_id", "text",
      windowWords = 4)
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // windows at pos 2..4 of doc 10 hit the index → positions 2..7 covered
    assert(byId(10L) === ((10L, 4L, "x y q r")))
    assert(byId(11L) === ((7L, 7L, "entirely novel content mentioning satellites and orbits")))
    // the (corpus-sized) index is never shuffle-JOINED: both probe joins
    // on the window keys are broadcast (batch keys into the index scan,
    // hit set back against the batch windows). The plan's remaining
    // exchanges are the index BUILD (pre-materialized in production —
    // this test constructs it inline) and batch-bounded distincts; the
    // reassembly merge join rides the postings repartition
    // co-partitioned, adding no shuffle. Final-plan section only: AQE's
    // toString appends the initial plan, whose un-sized estimates differ.
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin [wkey"), s"index probe not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin [wkey"), s"shuffle join on index keys in:\n$plan")
  }

  test("minhashEstimatePairs: exact dup estimates 1.0; estimator brackets exact jaccard") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),
      (2L, base),                       // exact dup of 1
      (3L, base + " nu xi omicron"),    // near dup of 1/2
      (4L, "totally different words about something else entirely here now")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashEstimatePairs(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (agree12, est12, jac12) = out((1L, 2L))
    assert(agree12 === 32L && est12 === 1.0 && jac12 === 1.0)
    // the near-dup pair surfaces via banding and its estimate is the
    // agreement ratio — sanity: both estimate and exact in (0, 1), and
    // the estimate is a multiple of 1/32
    out.filterKeys(_ != ((1L, 2L))).foreach { case (_, (na, est, jac)) =>
      assert(est === na.toDouble / 32 && jac > 0.0 && jac < 1.0)
    }
    assert(out.contains((1L, 3L)) && out.contains((2L, 3L)))
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("splitOverlapMatrix: identical corpus gives containment 1; disjoint vocab gives no pairs") {
    import spark.implicits._
    // 30 identical docs → every split holds the same shingle set
    val same = (0 until 30).map(i => (i.toLong, "one two three four five six"))
      .toDF("doc_id", "text")
    val m = Dedup.splitOverlapMatrix(same, "doc_id", "text", buckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(m.length === 3) // (0,1) (0,2) (1,2)
    m.foreach { case (_, (shared, na, nb, cont)) =>
      assert(na === 4L && nb === 4L && shared === 4L && cont === 1.0)
    }
    // disjoint vocabularies → zero shared shingles → empty matrix
    val disjoint = (0 until 30).map(i =>
      (i.toLong, s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e")).toDF("doc_id", "text")
    assert(Dedup.splitOverlapMatrix(disjoint, "doc_id", "text", buckets = 3).count() === 0L)
  }

  test("semanticDedup: within-cell groups keep min-id rep, cross-cell never pairs, no cartesian") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val docs = Seq(
      (1L, Seq(1.0, 0.01)),   // cell 0, ~identical to 2
      (2L, Seq(1.0, 0.011)),  // cell 0 → dup of 1
      (3L, Seq(0.9, 0.5)),    // cell 0, but below threshold vs 1/2
      (4L, Seq(0.01, 1.0)),   // cell 1, ~identical to 5
      (5L, Seq(0.012, 1.0))   // cell 1 → dup of 4
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(docs, "vec_id", "embedding", cents, minCosine = 0.999)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val byId = out.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId(1L) === ((0, 1L, true)))
    assert(byId(2L) === ((0, 1L, false))) // collapsed into 1
    assert(byId(3L) === ((0, 3L, true))) // same cell, not similar enough
    assert(byId(4L) === ((1, 4L, true)))
    assert(byId(5L) === ((1, 4L, false)))
    // docs 3 and 4: cosine(0.9,0.5 ; 0.01,1.0) ≈ 0.49 — would NOT pair
    // even if cells allowed it; but 1 vs 4 (cos ≈ 0.02) lands in
    // different cells, so no pair is ever GENERATED for it (the
    // clustering is the tractability mechanism, not just a filter)
  }

  test("semanticDedupLsh: sign-bit cells group like vectors; degrade past maxBucket is the deterministic rep-star") {
    import spark.implicits._
    // dim 4 so the fixed seed-7 planes are tiny; near-identical pairs
    // must land in the same sign-bit cell (same side of every plane)
    val docs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0, 0.0)),   // ~identical to 1
      (3L, Seq(-1.0, 0.0, 0.0, 0.0)),     // antipode: different cell
      (4L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedupLsh(docs, "vec_id", "embedding",
      dim = 4, numPlanes = 8, minCosine = 0.99)
    val byId = out.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId.size === 4) // one row per input doc
    assert(byId(1L)._1 === byId(2L)._1, "near-identical vectors share a cell")
    assert(byId(1L)._1 !== byId(3L)._1, "antipodal vectors split cells")
    assert(byId(1L) === ((byId(1L)._1, 1L, true)))
    assert(byId(2L)._2 === 1L && !byId(2L)._3) // collapsed into 1
    assert(byId(3L)._3 && byId(4L)._3)

    // degrade branch: many copies of one vector overflow maxBucket — the
    // candidate set must be the min-id star (O(n)), and grouping survives
    val many = (1L to 50L).map(i => (i, Seq(1.0, 0.001 * i, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val star = Dedup.semanticDedupLsh(many, "vec_id", "embedding",
      dim = 4, numPlanes = 8, minCosine = 0.9, maxBucket = 10)
    val rows = star.collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(rows.length === 50)
    assert(rows.count(_._3) >= 1)
    // every non-keeper collapsed onto the min id of its cell's star
    val comps = rows.map(_._2).distinct
    assert(comps.forall(c => rows.exists(r => r._1 == c && r._3)))
  }

  test("qualityReport: keep true/false branches and null-text three-valued logic") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("a perfectly reasonable sentence about engines with many varied clean words present")),
      (2L, Some("buy now buy now buy now buy now buy now buy now")), // repetition → drop
      (3L, Some("contact me at someone@example.com for all the details right away please")), // PII → drop
      (4L, Some("too short")),                                       // length gate → drop
      (5L, Option.empty[String])                                     // null text → keep null
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.qualityReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("keep"))).map(_.asInstanceOf[Boolean]))).toMap
    assert(rows(1L) === Some(true))
    assert(rows(2L) === Some(false)) // top_gram_frac ~0.5+ ("buy now" dominates)
    assert(rows(3L) === Some(false)) // n_emails = 1
    assert(rows(4L) === Some(false)) // n_tokens < 5
    assert(rows(5L) === None)        // unreadable doc is a review case
  }

  test("vocabulary: top-k by document frequency, deterministic tie order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "alpha delta")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq === Seq(("alpha", 3L, 1), ("beta", 2L, 2), ("delta", 1L, 3)))
  }

  test("sampleExact: exactly n per stratum, deterministic, small strata kept whole") {
    import spark.implicits._
    val docs = ((1L to 100L).map(i => (i, "a")) ++ Seq((200L, "b"), (201L, "b")))
      .toDF("doc_id", "lang")
    val out = TextAnalysis.sampleExact(docs, "doc_id", "lang", n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._2 == "a") === 10)
    assert(out.count(_._2 == "b") === 2)   // stratum smaller than n kept whole
    val again = TextAnalysis.sampleExact(docs, "doc_id", "lang", n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sorted === again.sorted)     // deterministic
    // a different salt draws a different sample (independence)
    val other = TextAnalysis.sampleExact(docs, "doc_id", "lang", n = 10, salt = "#other")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(other.sorted !== out.sorted)
  }

  test("lengthProfile: exact discrete quantiles per stratum") {
    import spark.implicits._
    // stratum "a": lengths 1..10 → p50 = rank 5 → 5, p90 = rank 9 → 9,
    // p99 = rank ceil(9.9) = 10 → 10
    val docs = (1 to 10).map(i => ("a", Seq.fill(i)("w").mkString(" "))) :+
      (("b", "one two three"))
    val out = TextAnalysis.lengthProfile(docs.toDF("lang", "text"), "text", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") === ((10L, 5L, 9L, 10L)))
    assert(out("b") === ((1L, 3L, 3L, 3L)))
  }

  test("noveltyProfile: boilerplate scores high mean_df, unique prose near 1") {
    import spark.implicits._
    val tpl = "standard legal disclaimer applies to all content herein"
    val docs = Seq(
      (1L, tpl), (2L, tpl), (3L, tpl),                       // shared boilerplate
      (4L, "utterly unique musings on obscure matters nobody else wrote")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("mean_df")).toMap
    assert(out(1L) === 3.0) // every shingle appears in 3 docs
    assert(out(4L) === 1.0) // every shingle unique to doc 4
  }

  test("contaminationFlags: eval-overlapping docs flagged, clean docs pass, no cartesian") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different words about gardening and flowers blooming"),
      (3L, "the quick brown fox jumps over something else entirely today")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox jumps over the lazy dog again")).toDF("doc_id", "text")
    val flags = Dedup.contaminationFlags(train, eval_, "doc_id", "text", minShared = 3)
    val plan = flags.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    val byId = flags.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(byId(1L) === true)  // shares the fox sentence shingles
    assert(byId(2L) === false) // disjoint vocabulary
    assert(byId(3L) === true)  // shares "the quick brown", "quick brown fox", ...
  }

  test("bloomDecontaminate: bit-identical to contaminationFlags, including df-edge shingles") {
    import spark.implicits._
    // 60 docs: 3 fox variants (overlap the eval set) + 57 sharing a
    // boilerplate phrase, so its shingles cross any small maxDocFreq —
    // exercising the rare-shingle prune path on BOTH formulations
    val train = ((1L to 3L).map { i =>
      (i, s"the quick brown fox jumps over the lazy dog variant $i")
    } ++ (4L to 60L).map { i =>
      (i, s"standard boilerplate header shared by every page plus row $i")
    }).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox jumps over the lazy dog again"),
      (101L, "standard boilerplate header shared by every page plus footer")).toDF("doc_id", "text")
    for (maxDf <- Seq(10, 50)) {
      val exact = Dedup.contaminationFlags(train, eval_, "doc_id", "text",
        maxDocFreq = maxDf, minShared = 2).orderBy("id").collect()
      val bloom = Dedup.bloomDecontaminate(train, eval_, "doc_id", "text",
        maxDocFreq = maxDf, minShared = 2).orderBy("id").collect()
      assert(bloom.toSeq === exact.toSeq, s"maxDocFreq=$maxDf")
    }
    spark.catalog.clearCache()
  }

  test("hashBucket: deterministic, stable, covers all buckets") {
    import spark.implicits._
    val ids = (1L to 1000L).toDF("id")
    val b1 = ids.select(col("id"), Dedup.hashBucket(col("id"), 10).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = ids.select(col("id"), Dedup.hashBucket(col("id"), 10).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2) // run-to-run stable
    assert(b1.values.toSet === (0L to 9L).toSet) // all buckets hit
    val counts = b1.values.groupBy(identity).view.mapValues(_.size)
    assert(counts.values.forall(n => n > 50 && n < 200), s"skewed buckets: $counts")
  }

  test("packAssignments: offsets are contiguous exclusive sums; packs respect the budget grid") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, ("tok " * (i % 30 + 1).toInt).trim)).toDF("doc_id", "text")
    val packs = TextAnalysis.packAssignments(docs, "doc_id", "text", tokenBudget = 50, shards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(packs.length === 200)
    // per shard: ordering by (hash, id) gives offsets that telescope exactly
    packs.groupBy(_._3).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._4)
      assert(inOrder.head._4 === 0L) // first doc starts at offset 0
      inOrder.sliding(2).foreach {
        case Array((_, n1, _, o1, _), (_, _, _, o2, _)) => assert(o2 === o1 + n1)
        case _ => ()
      }
      inOrder.foreach { case (_, _, _, off, pack) => assert(pack === off / 50) }
    }
    // deterministic across runs
    val again = TextAnalysis.packAssignments(docs, "doc_id", "text", 50, 3)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(packs.map(p => p._1 -> p._5).toMap === again)
  }

  test("repetitionProfile: boilerplate scores high, prose low, short doc is frac 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now"),     // one dominant 2-gram
      (2L, "the quick brown fox jumps over a lazy sleeping dog"), // all distinct
      (3L, "hi")                                            // < n words
    ).toDF("doc_id", "text")
    val prof = TextAnalysis.repetitionProfile(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(prof(1L)._1 === 9L)            // 10 words → 9 bigrams
    assert(prof(1L)._2 === 5L)            // "buy now" ×5
    assert(prof(1L)._3 > 0.5)
    assert(prof(2L)._2 === 1L && prof(2L)._3 < 0.2) // no repetition
    assert(prof(3L) === ((1L, 1L, 1.0)))  // whole-text gram
  }

  test("scrubPii: planted emails/urls redacted and counted; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob.smith+x@example.co.uk or visit https://ex.com/a?b=1 today"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.emailCount(col("text")).as("e"),
        TextAnalysis.urlCount(col("text")).as("u"),
        TextAnalysis.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L)._1 === 1 && out(1L)._2 === 1)
    assert(out(1L)._3 === "contact [EMAIL] or visit [URL] today")
    assert(out(2L) === ((0, 0, "no pii here at all")))
  }

  test("minhash candidates join is bucketed, not cartesian") {
    val plan = Dedup.minhashCandidates(docs(), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucket cap: 1k identical docs yield O(n) star pairs, grouping intact") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks"
    val big = (1L to 1000L).map(i => (i, base)).toDF("doc_id", "text")
    // every LSH bucket holds all 1000 docs (> DefaultMaxBucket = 256), so
    // candidates collapse to a star on the representative: 999 pairs, not
    // the 499,500 a degenerate-key all-pairs join would make
    val mh = Dedup.minhashNearDupPairs(big, "doc_id", "text",
      shingleLen = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
    val mhPairs = mh.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mhPairs.length === 999)
    assert(mhPairs.forall(_._1 == 1L)) // all anchored on the min-id rep
    // connectivity survives the cap: one component holding all 1000 docs
    val comps = Dedup.connectedComponents(mh.select("id_a", "id_b"))
      .select("comp").distinct().collect()
    assert(comps.length === 1)
    val sh = Dedup.simhashNearDupPairs(big, "doc_id", "text")
    assert(sh.count() === 999L)
    // sub-cap data is untouched: the 5-doc fixture still verifies all-pairs
    val small = Dedup.minhashNearDupPairs(docs(), "doc_id", "text",
      shingleLen = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small.contains((1L, 2L)))
  }

  test("near-dup operators are lazy: no job runs before the caller's first action") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // an earlier test's late events must not reach the fresh listener
    PlanApi.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val mh = Dedup.minhashNearDupPairs(docs(), "doc_id", "text", minJaccard = 0.5)
      val sh = Dedup.simhashNearDupPairs(docs(), "doc_id", "text")
      val em = Dedup.embeddingNearDupPairs(
        docs().select(col("doc_id"), array(lit(1.0), lit(0.5)).as("v")),
        "doc_id", "v", dim = 2)
      // listener events are async: deliver any construction-time job
      // start before asserting none happened
      PlanApi.drainListenerBus(sc)
      assert(jobs.get() === 0,
        "plan construction launched Spark jobs — the operators are no longer lazy")
      // and the frames still work when actually consumed
      assert(mh.count() > 0)
      assert(sh.count() > 0)
      em.count() // may be empty; must execute
      assert(jobs.get() > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("bucket guard: a degenerate band bucket fails loudly, not quadratically") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks"
    val big = (1L to 50L).map(i => (i, base)).toDF("doc_id", "text")
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    val ex = intercept[Exception] {
      Dedup.minhashNearDupPairs(big, "doc_id", "text", minJaccard = 0.5,
        maxBucket = Int.MaxValue, bucketGuard = Some(10)).count()
    }
    assert(rootMessages(ex).exists(_.contains("bucket guard")),
      s"expected the bucket-guard error, got: ${rootMessages(ex).mkString(" | ")}")
    // the same fixture under the guard bound passes untouched
    val ok = Dedup.minhashNearDupPairs(big, "doc_id", "text", minJaccard = 0.5,
      maxBucket = Int.MaxValue, bucketGuard = Some(Dedup.ExactPairsBucketGuard))
    assert(ok.count() === 50L * 49 / 2) // exact all-pairs of 50 identical docs
  }

  test("sampleKeep: deterministic, rate-proportional, salt-independent of split buckets") {
    import spark.implicits._
    val ids = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val rate = when(col("lang") === "en", lit(0.5)).otherwise(lit(0.1))
    val kept = ids.filter(TextAnalysis.sampleKeep(col("doc_id"), rate))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // rates hold to within a few % at n=1000 per stratum
    val en = kept.count(_._2 == "en").toDouble / 1000
    val de = kept.count(_._2 == "de").toDouble / 1000
    assert(en > 0.42 && en < 0.58, s"en rate $en")
    assert(de > 0.05 && de < 0.16, s"de rate $de")
    // deterministic: same predicate, same rows
    val again = ids.filter(TextAnalysis.sampleKeep(col("doc_id"), rate))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet === again.toSet)
    // a null id never passes
    val withNull = Seq((Option.empty[Long], "en")).toDF("doc_id", "lang")
    assert(withNull.filter(TextAnalysis.sampleKeep(col("doc_id"), lit(1.0))).count() === 0L)
    // the sample is salted: being sampled must not correlate with the
    // hashBucket split (different salt → different hash stream)
    val sampleBits = ids.select(col("doc_id"),
        TextAnalysis.sampleKeep(col("doc_id"), lit(0.5)).as("s"),
        (Dedup.hashBucket(col("doc_id"), 2) === 0).as("b"))
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2)))
    val agree = sampleBits.count(p => p._1 == p._2).toDouble / sampleBits.length
    assert(agree > 0.4 && agree < 0.6, s"sample/split agreement $agree (should be ~0.5)")
  }

  test("tokenBudgetSelect: budget fills in priority order, crossing doc still taken") {
    import spark.implicits._
    // one stratum, priority = ascending id; docs of 4 tokens each
    val docs = (1L to 10L).map(i => (i, "a b c d", "s0")).toDF("doc_id", "text", "src")
    val out = TextAnalysis.tokenBudgetSelect(docs, "doc_id", "text", "src",
        tokenBudget = 10L, priority = col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cum_tokens"), r.getAs[Boolean]("selected")))
      .sortBy(_._1)
    // cum: 0,4,8,12,... → docs 1,2 under budget; doc 3 CROSSES it (cum 8 < 10) and is taken
    assert(out.map(_._2).take(4) === Seq(0L, 4L, 8L, 12L))
    assert(out.filter(_._3).map(_._1) === Seq(1L, 2L, 3L))
    // strata are independent: a second stratum gets its own budget
    val two = docs.union(Seq((11L, "a b c d", "s1")).toDF("doc_id", "text", "src"))
    val sel = TextAnalysis.tokenBudgetSelect(two, "doc_id", "text", "src", 10L, col("doc_id"))
      .filter(col("selected")).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(sel === Array(1L, 2L, 3L, 11L))
  }

  test("shufflePositions: a permutation of [0,n), deterministic, shard-count invariant size") {
    import spark.implicits._
    val ids = (1L to 500L).map(Tuple1(_)).toDF("doc_id")
    val out = TextAnalysis.shufflePositions(ids, "doc_id", shards = 8)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shuffle_pos")))
    assert(out.length === 500)
    // positions are exactly 0..n-1, each once
    assert(out.map(_._2).sorted === (0L until 500L).toArray)
    // not the identity order (it actually shuffles)
    assert(out.count { case (id, pos) => pos == id - 1 } < 50)
    // deterministic across invocations — drop the plan-keyed cache first
    // so the second run actually recomputes instead of replaying blocks
    spark.catalog.clearCache()
    val again = TextAnalysis.shufflePositions(ids, "doc_id", shards = 8)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shuffle_pos"))).toMap
    assert(out.toMap === again)
    // more shards still yields a complete permutation (scale knob is safe)
    val wide = TextAnalysis.shufflePositions(ids, "doc_id", shards = 32)
      .collect().map(_.getAs[Long]("shuffle_pos"))
    assert(wide.sorted === (0L until 500L).toArray)
    // null ids are excluded (no stable identity → no deterministic
    // position) and the survivors still get a clean [0, n) permutation
    val withNull = (1L to 9L).map(Option(_)).:+(Option.empty[Long])
      .map(Tuple1(_)).toDF("doc_id")
    val nn = TextAnalysis.shufflePositions(withNull, "doc_id", shards = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shuffle_pos")))
    assert(nn.length === 9)
    assert(nn.map(_._2).sorted === (0L until 9L).toArray)
    // scale shape: shard offsets arrive by broadcast, and the corpus-side
    // window is partitioned by shard (never one global-sort partition)
    val plan = TextAnalysis.shufflePositions(ids, "doc_id", shards = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[shard".r.findFirstIn(plan).isDefined,
      s"corpus window not partitioned by shard:\n$plan")
  }

  test("canonicalReps: per-component argmax by quality, ties to lowest id, losers ranked") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.7), (11L, 0.7))
      .toDF("doc_id", "quality")
    val out = Dedup.canonicalReps(comps, scored).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getInt(3), r.getBoolean(4)))).toMap
    assert(out(2L) === ((1L, 1, true)))   // 0.9 tie → lower id wins
    assert(out(3L) === ((1L, 2, false)))
    assert(out(1L) === ((1L, 3, false)))
    assert(out(10L) === ((10L, 1, true)))
    assert(out(11L) === ((10L, 2, false)))
  }
}
