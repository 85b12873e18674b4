package graft.tools

/** Dump formatted physical plans for selected registry queries — the
  * `.explain("formatted")` audit loop the repo's plan-quality claims
  * (pushdown, broadcast, codegen spans) are checked against. Usage:
  * `runMain graft.tools.DumpPlans [sfDir] [queryName...]`. */
object DumpPlans {
  val defaults = Seq(
    "p06_filter_range", "j01_left_join", "j07_multiway_chain",
    "a01_groupby_sum", "dd_incremental", "ann_topk_brute",
    "w08_sessionize", "sql_timeseries_panel")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else defaults
    val spark = graft.GraftSession.local(8)
    // SPARK_GRAFT_CONF overrides for before/after plan dumps
    ProbeQuery.applyConfOverrides(spark)
    names.foreach { n =>
      println(s"\n===PLAN=== $n")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
