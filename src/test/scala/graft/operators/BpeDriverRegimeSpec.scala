package graft.operators

import graft.SparkSpec

/** Regime-equivalence gate for the r20 BPE driver fast path: under the
  * input-byte bound the trainers/encoder run their greedy loops on the
  * driver over the collected vocabulary; this spec runs BOTH branches
  * on the same corpus (the distributed one forced via
  * `spark.graft.bpe.driverInputLimit=0`) and asserts identical frames —
  * merge tables row-for-row, encodings doc-for-doc. The corpus is built
  * to exercise the rules that could drift between implementations:
  * l = r runs (islands/even-offset greediness), count ties (UTF-8
  * tie-break), merges whose output symbol feeds later pairs, multi-pick
  * batches with conflicting candidates, and short/empty/whitespace
  * docs. */
class BpeDriverRegimeSpec extends SparkSpec {

  private val LimitKey = "spark.graft.bpe.driverInputLimit"

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, "aaa aaaa abab abab caa"),
      (1L, "the cat the cat the hat"),
      (2L, "aa aa aa bb bb cc"),
      (3L, "  "),
      (4L, "xyxy xyx yxy x y"),
      (5L, "the the the aaa bbb the")
    ).toDF("doc_id", "text")
  }

  private def forced[A](f: => A): A = {
    spark.conf.set(LimitKey, "0")
    try f finally spark.conf.unset(LimitKey)
  }

  private def trainRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def encRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq

  test("bpeTrain: driver regime ≡ distributed loop") {
    val driver = trainRows(Bpe.bpeTrain(corpus, "text", numMerges = 6))
    val dist = forced(trainRows(Bpe.bpeTrain(corpus, "text", numMerges = 6)))
    assert(driver === dist)
  }

  test("bpeTrainBatched: driver regime ≡ distributed loop (batch > 1)") {
    val driver = trainRows(Bpe.bpeTrainBatched(corpus, "text", numMerges = 6, batchSize = 3))
    val dist = forced(trainRows(
      Bpe.bpeTrainBatched(corpus, "text", numMerges = 6, batchSize = 3)))
    assert(driver === dist)
  }

  test("bpeEncode: driver regime ≡ distributed cascade") {
    val merges = Seq(("a", "a"), ("t", "h"), ("th", "e"), ("aa", "aa"), ("x", "y"))
    val driver = encRows(Bpe.bpeEncode(corpus, "doc_id", "text", merges))
    val dist = forced(encRows(Bpe.bpeEncode(corpus, "doc_id", "text", merges)))
    assert(driver === dist)
    // and the driver branch actually ran: a doc's encoding reflects the
    // merges (sanity that we didn't compare two identical code paths)
    assert(driver.exists(_._3.contains("the")))
  }

  test("driver trainer breaks count ties in UTF-8 byte order") {
    // every pair occurs once -> the first merge is decided purely by the
    // (l, r) tie-break; both branches must pick the same pair
    import spark.implicits._
    val tied = Seq((0L, "ba ac cb")).toDF("doc_id", "text")
    val driver = trainRows(Bpe.bpeTrain(tied, "text", numMerges = 1))
    val dist = forced(trainRows(Bpe.bpeTrain(tied, "text", numMerges = 1)))
    assert(driver === dist)
  }

  test("batched tie-break matches across branches for supplementary-plane symbols") {
    // UTF-16 vs UTF-8 order diverge exactly here: U+FFFD (UTF-16 unit
    // 0xFFFD; UTF-8 EF BF BD) vs U+1F600 (surrogate pair starting 0xD83D;
    // UTF-8 F0 9F 98 80) — UTF-16 ranks the emoji FIRST, UTF-8 LAST. Both
    // candidate pairs share the symbol "a" and are count-tied, so the one
    // merge picked is decided purely by the re-sort's tie-break; the
    // distributed batched branch must agree with the driver (r21 ADVICE:
    // its collected-candidate re-sort used UTF-16 tuple ordering).
    import spark.implicits._
    val tied = Seq((0L, "a� a😀")).toDF("doc_id", "text")
    val driver = trainRows(Bpe.bpeTrainBatched(tied, "text", numMerges = 1, batchSize = 2))
    val dist = forced(trainRows(
      Bpe.bpeTrainBatched(tied, "text", numMerges = 1, batchSize = 2)))
    assert(driver === dist)
    assert(driver.head._3 === "�") // the UTF-8-first pick, not the emoji
  }

  test("post-collect vocab guard: over-limit actual chars refuse the driver branch") {
    // driverRegime gates on the optimizer's byte ESTIMATE; the post-collect
    // guard re-checks ACTUAL chars so a lying estimate can't feed an
    // unbounded vocabulary to the ~50x-overhead driver loop (r21 ADVICE)
    spark.conf.set(LimitKey, "10")
    try {
      assert(Bpe.driverVocabFits(spark, Iterator("abcde", "fghij"), what = "spec"))
      assert(!Bpe.driverVocabFits(spark, Iterator("abcde", "fghijk"), what = "spec"))
    } finally spark.conf.unset(LimitKey)
  }

  test("post-collect vocab guard measures UTF-8 bytes, not chars") {
    // the limit is in bytes: 10 chars of 'é' are 20 UTF-8 bytes and must
    // trip the fallback where 10 ASCII chars (10 bytes) do not
    spark.conf.set(LimitKey, "10")
    try {
      assert(Bpe.driverVocabFits(spark, Iterator("abcde", "fghij"), what = "spec"))
      assert(!Bpe.driverVocabFits(spark, Iterator("ééééé", "ééééé"), what = "spec"))
    } finally spark.conf.unset(LimitKey)
  }
}
