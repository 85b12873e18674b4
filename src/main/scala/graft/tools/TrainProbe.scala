package graft.tools

import org.apache.spark.sql.functions._

/** Time the IVF k-means TRAINING path (`Similarity.ivfTrain` via
  * `ivfTopK` with iters > 0) at a beyond-fixture corpus — the one
  * vector-family surface no registry query exercises at scale, because
  * distributed float averaging is order-sensitive and therefore not
  * hash-oracle-able (the registry pins trained CENTROID LITERALS
  * instead: `ann_topk_ivf_trained`). Each Lloyd iteration is one
  * corpus×nlist broadcast fan-out that collapses map-side plus one
  * corpus-sized per-id shuffle carrying the vectors, then a cell-mean
  * aggregate that collapses to nlist×dim rows — this probe measures
  * whether that per-iteration shuffle holds at 10M vectors / 8 g.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 java ... graft.tools.TrainProbe \
  *     /tmp/graft_sf10mv [iters] [nlist] [n]
  */
object TrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val nlist = args.lift(2).map(_.toInt).getOrElse(16)
    val n = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local()
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val stage = StageLog.attach(spark)
    val rt = Runtime.getRuntime
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val out = graft.operators.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nlist = nlist, nprobe = 4, iters = iters)
      graft.Bench.force(out)
      val s = (System.nanoTime() - t0) / 1e9
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      stage.dump(s"train:iters=$iters", i)
      System.err.println(f"[train-probe] iters=$iters nlist=$nlist run $i: $s%8.3f s heapMB=$heapMb%5d")
      // ivfTopK persists its normalized corpus per call — release between
      // runs so run 2 measures a warm ENGINE, not an accumulating cache
      graft.GraftSession.releaseCaches(spark)
    }
    stage.detach()
    spark.stop()
  }
}
