package graft.tools

import org.apache.spark.sql.functions._

/** Beyond-fixture probe of the W1 EWMA pair (VERDICT r19 #6): the
  * faithful form ([[graft.operators.Ewma.withEwma]]) partitions by
  * group — 5 NEM regions = 5-way max parallelism, the one sequential
  * operator SURVEY §7.4 flags — while the segmented form
  * ([[graft.operators.Ewma.withEwmaSegmented]]) folds (group, chunk)
  * slices independently and stitches entry states through a broadcast
  * join, so parallelism is groups × chunks regardless of group count.
  *
  * This probe measures BOTH forms over an in-memory generated stream of
  * `n` rows / 5 groups (deterministic: region/ts/value are pure
  * functions of the row id — no parquet staging, the generator is
  * narrow and scan-parallel), so the pinned scale recommendation is a
  * measurement instead of the argued claim.
  *
  * Usage: runMain graft.tools.EwmaProbe [n] [faithful|segmented|both] [chunkRows] */
object EwmaProbe {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(500000000L)
    val which = args.lift(1).getOrElse("both")
    val chunkRows = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val cpus = graft.GraftSession.defaultCores
    val spark = graft.GraftSession.local(cpus)
    val stage = StageLog.attach(spark)
    val rt = Runtime.getRuntime

    // 5 groups, per-group ts strictly increasing, value a cheap
    // deterministic oscillation — the W1 shape at probe scale
    def stream = spark.range(0L, n, 1L, cpus * 4)
      .select(
        concat(lit("R"), (col("id") % 5).cast("string")).as("region"),
        (col("id") / 5).as("ts"),
        (pmod(col("id") * 2654435761L, lit(1000L)).cast("double") / 1000.0).as("value"))

    def runOne(label: String, body: => org.apache.spark.sql.DataFrame): Unit = {
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        graft.Bench.force(body)
        val s = (System.nanoTime() - t0) / 1e9
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        stage.dump(s"ewma:$label", i)
        System.err.println(f"[probe] ewma:$label run $i: $s%7.3f s  heapMB=$heapMb%5d")
        graft.GraftSession.releaseCaches(spark)
      }
    }
    if (which == "faithful" || which == "both")
      runOne("faithful", graft.operators.Ewma.withEwma(
        stream, "region", Seq("ts"), "value", alpha = 0.2, outCol = "ewma"))
    if (which == "segmented" || which == "both")
      runOne("segmented", graft.operators.Ewma.withEwmaSegmented(
        stream, "region", Seq("ts"), "value", alpha = 0.2, outCol = "ewma",
        chunkCol = col("ts") / chunkRows))
    stage.detach()
    println(s"[probe] ewma done n=$n (cpus=$cpus)")
    spark.stop()
  }
}
