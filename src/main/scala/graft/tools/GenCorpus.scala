package graft.tools

/** Deterministic synthetic corpus generator for scale-curve evidence
  * BEYOND the driver fixture (PLANS.md: sf0.1 holds 5,000 documents /
  * 2,000 embeddings — every r10 curve's honest caveat was "still fixture
  * scale"). Writes `documents.parquet` / `embeddings.parquet` with the
  * driver testdata's exact schemas into an sf-style dir, so the SAME
  * `SparkEntry.queries` run unchanged against a 20× corpus via
  * `SPARK_GRAFT_SF_DIR` (tools/scalecurve.sh / graft.tools.ScaleCurve).
  *
  * Planted structure mirrors what makes the dedup family do real work:
  *  - ~2% exact duplicate docs (copy of doc i−2), ~3% near-dups (copy of
  *    doc i−1 with two words edited), the rest unique word-salad over a
  *    2,000-word vocabulary at the fixture's length profile;
  *  - embeddings cluster around 8 anchor directions (+noise), and every
  *    `vec_id % 10 == 0` "batch" vector is a jittered copy of its
  *    `vec_id + 1` corpus neighbor, so the incremental-semantic probe
  *    has genuine hits to gate.
  *
  * Everything derives from fixed LCG seeds on (docId) — same bytes on
  * every run, no RNG state shared across partitions (generation is a
  * pure function of the id, so it distributes over `spark.range`).
  *
  * Usage: `runMain graft.tools.GenCorpus <outDir> [nDocs] [nVecs]`. */
object GenCorpus {

  private def lcg(seed0: Long): () => Long = {
    var s = seed0
    () => { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 11 }
  }

  private val vocabSize = 2000
  private def word(k: Long): String = "w" + (k % vocabSize)

  /** Unique word-salad for doc `i` (length profile ≈ the driver fixture:
    * 10–100 words). */
  private[tools] def docText(i: Long): String = {
    val r = lcg(i * 99991L + 7L)
    val n = 10 + (r() % 91L).toInt
    (0 until n).map(_ => word(r())).mkString(" ")
  }

  /** Final text for doc `i`: exact dup of i−2 (2%), near-dup of i−1 with
    * two words edited (3%), else unique. */
  private[tools] def finalText(i: Long): String =
    if (i % 50L == 2L && i >= 2L) docText(i - 2L)
    else if (i % 33L == 1L && i >= 1L) {
      val ws = docText(i - 1L).split(" ")
      ws(0) = "edit" + i
      if (ws.length > 5) ws(5) = "alt" + i
      ws.mkString(" ")
    } else docText(i)

  private val langs = Array("en", "de", "fr", "es", "zh")

  /** The fixture's language assignment for doc `i` (shared with
    * [[GenLake]]). */
  private[tools] def langOf(i: Long): String = langs((i % 5L).toInt)

  /** 64-dim float embedding for vec `i`: one of 8 anchor directions plus
    * small noise; `i % 10 == 0` is a jittered copy of `i + 1` (the
    * planted incremental-probe hit). */
  private[tools] def vec(i: Long, nVecs: Long): Array[Float] = {
    def base(j: Long): Array[Float] = {
      val anchor = lcg((j % 8L) * 7919L + 13L)
      val noise = lcg(j * 104729L + 29L)
      Array.fill(64) {
        val a = (anchor().toDouble / (1L << 53).toDouble) * 2.0 - 1.0
        val e = (noise().toDouble / (1L << 53).toDouble) * 2.0 - 1.0
        (a + 0.15 * e).toFloat
      }
    }
    if (i % 10L == 0L && i + 1L < nVecs) {
      val b = base(i + 1L)
      val jit = lcg(i * 31337L + 41L)
      b.map(x => x + 0.01f * (((jit().toDouble / (1L << 53).toDouble) * 2.0 - 1.0).toFloat))
    } else base(i)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(100000L)
    val nVecs = args.lift(2).map(_.toLong).getOrElse(20000L)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    spark.range(nDocs).map { i =>
      val text = finalText(i)
      (i, text, langOf(i), "src" + (i % 20L), text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.range(nVecs).map { i =>
      (i, vec(i, nVecs), (i % 8L).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[gencorpus] wrote $nDocs docs / $nVecs vecs to $outDir")
    spark.stop()
  }
}
