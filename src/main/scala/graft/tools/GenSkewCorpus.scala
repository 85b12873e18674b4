package graft.tools

/** Power-law skew corpus for the subset-key co-partition trade probe
  * (VERDICT r19 #3): [[graft.GraftSession.tune]] ships
  * `spark.sql.requireAllClusterKeysForCoPartition=false` session-wide so
  * widened hash(id) layouts ride through (id, pos)/(id, s) joins without
  * a session-width re-shuffle — correct for near-uniform md5/synthetic
  * ids, but co-partitioning on the id SUBSET also means a single id's
  * whole posting/window stream lands in ONE partition. This generator
  * plants that adversary: `documents.parquet` with the [[GenCorpus]]
  * schema and text profile, EXCEPT doc 0 is one giant document holding
  * `skewPct` of the corpus's total words (a 5% owner at 1M docs is a
  * ~2.9M-word single row) — the worst case for per-id windows, span
  * reassembly and the substring covered join.
  *
  * Usage: `runMain graft.tools.GenSkewCorpus <outDir> [nDocs] [skewPct]` */
object GenSkewCorpus {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val skewPct = args.lift(2).map(_.toDouble).getOrElse(0.05)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    // normal docs average ~55 words (GenCorpus profile); the owner doc's
    // word count makes it skewPct of the total stream
    val hugeWords = ((nDocs - 1) * 55L * skewPct / (1.0 - skewPct)).toLong
    spark.range(nDocs).map { i =>
      val text =
        if (i == 0L) {
          // giant doc: repeated-structure word salad (rolling vocab so
          // its windows are distinct — dedup finds structure, not one
          // degenerate repeated window)
          val sb = new java.lang.StringBuilder(((hugeWords * 6).min(Int.MaxValue / 2)).toInt)
          var k = 0L
          while (k < hugeWords) {
            if (k > 0) sb.append(' ')
            sb.append("g").append(k % 100003L)
            k += 1
          }
          sb.toString
        } else GenCorpus.finalText(i)
      (i, text, GenCorpus.langOf(i), "src" + (i % 20L), text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[genskew] wrote $nDocs docs (doc 0 = $hugeWords words, " +
      f"${skewPct * 100}%.1f%% of the stream) to $outDir")
    spark.stop()
  }
}
