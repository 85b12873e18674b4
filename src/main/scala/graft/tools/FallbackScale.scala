package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured evidence for the two distributed fallbacks that specs so
  * far only asserted CORRECT (r13 verdict, optional item):
  *
  *  1. `Dedup.connectedComponents` PAST the 300k-edge driver-union-find
  *     cap — a deterministic 1.24M-edge chain graph forces the
  *     checkpointed min-label pointer-jump loop, with closed-form
  *     components (`comp(id) = id - id % L`) verified distributively,
  *     then the same graph through the driver path for the time/equality
  *     comparison.
  *  2. `TextAnalysis.packAssignments` shard scaling — the one-window-
  *     per-shard design claims parallelism ∝ shards; measured at
  *     1/8/64 shards over 50M synthetic token counts.
  *
  * Usage: `runMain graft.tools.FallbackScale [nNodes=1280000] [chain=32]
  * [packDocs=50000000]`.
  * Prints a PLANS.md-ready table; exits nonzero on any mismatch. */
object FallbackScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1280000L)
    val chain = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession.local()
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // chains of `chain` nodes: edges (i, i+1) except across chain ends
    val edges = spark.range(n - 1)
      .filter(pmod(col("id"), lit(chain)) =!= (chain - 1))
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val nEdges = edges.count()
    require(nEdges > 300000L, s"graph too small to pass the driver cap: $nEdges edges")

    // distributed pointer-jump loop (cap forced to 0 edges)
    val (badDist, tDist) = timed {
      graft.operators.Dedup.connectedComponents(edges, driverEdgeLimit = 0L)
        .filter(col("comp") =!= col("id") - pmod(col("id"), lit(chain)))
        .count()
    }
    // driver union-find on the same graph (cap raised past it)
    val (badDrv, tDrv) = timed {
      graft.operators.Dedup.connectedComponents(edges, driverEdgeLimit = 10000000L)
        .filter(col("comp") =!= col("id") - pmod(col("id"), lit(chain)))
        .count()
    }
    println(f"[cc] edges=$nEdges components=${n / chain} " +
      f"distributed=${tDist}%.1f s (mismatches=$badDist) " +
      f"driver=${tDrv}%.1f s (mismatches=$badDrv)")

    // pack shard scaling: deterministic token counts. Default 50M docs —
    // at 5M the whole window fits one task's cache and every shard count
    // measures ~0.1 s; the serialization the shard design removes only
    // shows once the single-shard window is forced to stream
    val packDocs = args.lift(2).map(_.toLong).getOrElse(50000000L)
    val counts = spark.range(packDocs)
      .select(col("id"), (pmod(col("id") * 2654435761L, lit(900)) + 100).as("n_tokens"))
      .persist()
    counts.count()
    val packTimes = Seq(1, 8, 64).map { shards =>
      // aggregate OVER the window-derived column: a bare .count() lets
      // Catalyst prune the unused Window node entirely (first cut of this
      // tool measured 0.5 s for a "50M-row single-partition window" —
      // i.e. measured nothing)
      val (packs, t) = timed {
        graft.operators.TextAnalysis.packAssignmentsFromCounts(
          counts, "id", "n_tokens", tokenBudget = 4096, shards = shards)
          .agg(max(col("pack_id"))).first().getLong(0) + 1
      }
      println(f"[pack] shards=$shards%-3d $packDocs docs, $packs packs: ${t}%.1f s")
      t
    }
    println(f"[fallback-scale] cc_dist=${tDist}%.1f cc_driver=${tDrv}%.1f " +
      f"pack=${packTimes.map(t => f"$t%.1f").mkString("/")} s")
    spark.stop()
    if (badDist > 0 || badDrv > 0) sys.exit(1)
  }
}
