package graft.tools

/** One cold sample of one query for the scale-curve evidence table
  * (PLANS.md): a fresh JVM runs `SPARK_GRAFT_ONLY` against
  * `SPARK_GRAFT_SF_DIR` once and prints `query sf input_rows seconds`.
  * Driven by tools/scalecurve.sh, which sweeps queries × scale factors —
  * cold-per-sample (no shared JIT/cache warmth) so the three points of a
  * curve are comparable to each other. */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val name = sys.env("SPARK_GRAFT_ONLY")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // input volume: rows of the table family the query reads
    val table = if (name.startsWith("ann_") || name.contains("semantic")
        || name.contains("embed")) "embeddings"
      else if (name.startsWith("dd_") || name.startsWith("ta_")
        || name.startsWith("mm_")) "documents"
      else "events"
    val rows = graft.Tables(spark, sfDir, table).count()
    val fn = graft.SparkEntry.queries(name)
    // timed sample forces EVERY output column (Bench.force) — a count()
    // here skipped the pruned-under-count work (windows, generates, final
    // projections; PLANS.md round 14). The informational output-row count
    // is taken by a second, untimed execution after the sample.
    val t0 = System.nanoTime()
    graft.Bench.force(fn(spark, sfDir))
    val sec = (System.nanoTime() - t0) / 1e9
    val n = fn(spark, sfDir).count()
    println(f"$name ${sfDir.split('/').last} input=$rows out=$n cold=$sec%.2f")
    spark.stop()
  }
}
