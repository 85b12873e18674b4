package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Realism evidence for the BPE surface at production merge counts: a
  * shipped tokenizer carries ~32k merges, so both halves must survive a
  * merge TABLE three orders of magnitude past the fixture's 8 — the
  * trainer without funneling pair counts through a single task per
  * round, the encoder without a plan that grows with the merge count.
  * The 1,024-merge scale here is the smallest that would have broken
  * both r10 shapes (a per-merge window cascade and a global rank window
  * are merge-count-linear, not data-linear — no corpus size hides them).
  */
class BpeScaleSpec extends SparkSpec {

  // 2·n distinct CJK codepoints (lower() is identity on them, so
  // TextAnalysis.normalize passes them through) forming n two-char words
  // whose adjacent pairs are pairwise symbol-DISJOINT — every candidate
  // survives the conflict-free prefix, so the expected merge table is
  // just the pairs ranked by (count desc, sym, nxt), computable exactly.
  private def disjointWords(n: Int): Seq[String] =
    (0 until n).map(i =>
      new String(Character.toChars(0x4E00 + 2 * i)) +
        new String(Character.toChars(0x4E00 + 2 * i + 1)))

  test("bpeTrainBatched: 1,024 merges train in ≤ 9 rounds of bounded driver work") {
    import spark.implicits._
    val n = 1050
    val words = disjointWords(n)
    // deterministic non-uniform frequencies with heavy ties: rank order
    // must fall back to the (sym, nxt) lexicographic tiebreak
    def freq(i: Int): Int = 2 + ((i * 7) % 13)
    val docs = words.zipWithIndex.map { case (w, i) =>
      (i.toLong, Seq.fill(freq(i))(w).mkString(" "))
    }.toDF("doc_id", "text")
    val sc = spark.sparkContext
    sc.setJobGroup("bpe_1k", "1024-merge batched train")
    // force the DISTRIBUTED loop: the round/job-batching property under
    // test lives there (the r20 driver fast path would take this tiny
    // corpus and schedule ~1 job, making the bound vacuous)
    spark.conf.set("spark.graft.bpe.driverInputLimit", "0")
    val got = try Bpe.bpeTrainBatched(docs, "text",
        numMerges = 1024, batchSize = 128)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    finally spark.conf.unset("spark.graft.bpe.driverInputLimit")
    val jobs = sc.statusTracker.getJobIdsForGroup("bpe_1k").length
    sc.clearJobGroup()
    // independent model: all pairs disjoint → conflict-free prefix keeps
    // everything, so the table is the global rank order, batch boundaries
    // invisible in the result
    val expected = words.zipWithIndex
      .map { case (w, i) => (w(0).toString, w(1).toString, freq(i).toLong) }
      .sortBy { case (l, r, c) => (-c, l, r) }
      .take(1024)
      .zipWithIndex.map { case ((l, r, c), it) => (it, l, r, c) }
    assert(got.length === 1024)
    assert(got.toSeq === expected)
    // 8 rounds of 128 picks; each round is a bounded handful of jobs
    // (candidate TakeOrdered + rewrite/checkpoint) — far under the ~3k
    // jobs the classic one-merge-per-round loop would schedule
    assert(jobs <= 60, s"1,024 merges scheduled $jobs jobs — driver loop not batching")
  }

  test("bpeTrainBatched round selection: distributed TakeOrdered, no partition-free WindowExec") {
    import spark.implicits._
    val docs = Seq((1L, "banana banana banana"), (2L, "bandana bandana"))
      .toDF("doc_id", "text")
    val vocab = docs.select(explode(split(TextAnalysis.normalize(col("text")), " ")).as("wd"))
      .filter(length(col("wd")) > 0)
      .groupBy("wd").agg(count(lit(1)).as("freq"))
    val sel = Bpe.candidatePairs(Bpe.symbolRows(vocab), 1L)
      .orderBy(col("cnt").desc, col("sym"), col("nxt")).limit(8)
    val got = sel.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // 3×banana + 2×bandana: the frequency-weighted adjacent pairs
    assert(got === Seq(("a", "n", 10L), ("n", "a", 8L), ("b", "a", 5L),
      ("d", "a", 2L), ("n", "d", 2L)))
    val plan = sel.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // pair counts combine map-side (partial aggregate) and the top-window
    // cut is the distributed TakeOrdered operator, not a global sort
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // adjacency comes from the symbol array itself: no window at all (the
    // r10 selection's partition-free row_number window moved every pair
    // count to one task)
    assert(!plan.contains("Window"), plan)
  }

  test("bpeEncode: a 1,024-merge table encodes with bounded plan depth") {
    import spark.implicits._
    // three real merges chain "abcd" into one token; the other 1,021
    // never occur adjacently in the vocab — the output must be exactly
    // the three-merge encoding, whatever the table size
    val filler = disjointWords(511).map(w => (w(0).toString, w(1).toString))
    val merges = Seq(("a", "b"), ("ab", "c"), ("abc", "d")) ++ filler ++
      filler.map { case (l, r) => (r, l) } // 3 + 511 + 511 = 1025 ≥ 1024
    val docs = Seq((1L, "abcd e"), (2L, "abcd abcd")).toDF("doc_id", "text")
    val out = Bpe.bpeEncode(docs, "doc_id", "text", merges)
    val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L) === ((2L, "abcd e")))
    assert(got(2L) === ((2L, "abcd abcd")))
    // the merges run per word inside one operator: the plan does not
    // grow with the table — no Window stage at all
    val windowNodes = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(windowNodes === 0, s"$windowNodes Window stages in the encode plan")
  }
}
