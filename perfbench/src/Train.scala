package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Training run for the class-data-sharing archive that `build.py`
  * writes. It starts a session the way [[Main]] does and runs a few
  * small jobs down the paths the workloads take (a generated frame, a
  * partitioned Parquet write and read, an aggregate, a join and a
  * registry query), so later runs load those classes from the archive.
  *
  * Usage: `perfbench.Train WORK_DIR DATA_DIR` */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(args(0)).toAbsolutePath)
    val spark = Main.session(2, work)
    try {
      val lake = work.resolve("lake").toString
      NemGen.frame(spark, NemGen.UnitMw, 1L, NemGen.Sizes(units = 2, constraints = 2), 0, 4)
        .withColumn("date", to_date(col("MEASUREMENT_DATETIME")))
        .repartition(col("date"))
        .write.partitionBy("date").option("compression", "zstd").parquet(lake)
      val df = spark.read.parquet(lake)
      df.groupBy("FPP_UNITID").agg(sum("MEASURED_MW").as("mw")).join(df, "FPP_UNITID").orderBy("mw").collect()
      graft.Bench.force(graft.queries.Registry.queries("dd_exact_groups")(spark, args(1)))
    } finally spark.stop()
  }
}
