package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Time registry queries N times each in one fresh session — the
  * single-query adjudication probe the full `graft.Bench` sweep can't
  * give (round 14: j02's lake-20 warms degraded 28→59 s across samples
  * at local[32] while its cold matched the prior round exactly; this
  * tool showed flat 18–19 s warms at BOTH 8g and 24g heaps, exonerating
  * the heap hypothesis in one 3-minute run per size — the suite-context
  * inflation was one-off regime noise, confirmed by a clean full re-run).
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  *     sbt "runMain graft.tools.ProbeQuery j02_inner_composite[,query...] /tmp/graft_lake20 4"
  *
  * Each run builds a fresh frame, plans it (`executedPlan`) and forces it
  * with `Bench.force`, the bench's full-column noop sink. The run line
  * gives the seconds Bench would time (frame construction plus the
  * force, which plans its own write; the extra plan pass is left out),
  * the plan ms (construction, analysis, optimization and physical
  * planning — AQE re-planning during execution is not in it), the jobs,
  * stages and tasks the run dispatched, and the used heap after it (the
  * creep signature: monotonically rising times WITH rising retained heap
  * = allocation outrunning GC in an undersized heap; flat times =
  * healthy). [[StageLog]] prints the run's top stages above it. Caches
  * are swept only AFTER a query's last run, as in Bench.
  *
  * `SPARK_GRAFT_CONF="k=v;k=v"` sets session confs for A/B probes
  * without recompiling (`spark.sql.shuffle.partitions=N` for partition-
  * sizing experiments: round 15's ta_quality_report at 10M docs OOMs
  * 8g/32-wide and passes with more, smaller partitions). */
object ProbeQuery {

  /** Apply the `SPARK_GRAFT_CONF` overrides to `spark` — probe-side
    * only, never the library default. */
  def applyConfOverrides(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: ProbeQuery <query[,query...]> [sfDir] [n]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(4)
    val fns = names.map(q => q -> SparkEntry.queries.getOrElse(q, sys.error(
      s"unknown query '$q' — keys: ${SparkEntry.queries.keys.toSeq.sorted.take(10).mkString(", ")}…")))
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.local(cpus)
    applyConfOverrides(spark)
    val stageLog = StageLog.attach(spark)
    val rt = Runtime.getRuntime
    fns.foreach { case (name, fn) =>
      val times = (1 to n).map { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        Bench.force(df)
        val s = (t1 - t0 + System.nanoTime() - t2) / 1e9
        val planMs = (t2 - t0) / 1e6
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        val (jobs, stages, tasks) = stageLog.dump(name, i)
        System.err.println(f"[probe] $name run $i: $s%7.3f s  plan=$planMs%.0fms " +
          f"jobs=$jobs stages=$stages tasks=$tasks heapMB=$heapMb%5d")
        s
      }
      GraftSession.releaseCaches(spark)
      println(f"[probe] $name ${times.map(t => f"$t%.3f").mkString("/")} s " +
        f"(cpus=$cpus heap=${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")})")
    }
    stageLog.detach()
    spark.stop()
  }
}
