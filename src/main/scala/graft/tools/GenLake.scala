package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Beyond-fixture lake generator for the FULL query surface — the
  * companion to [[GenCorpus]] (which covers only documents/embeddings):
  * every relational table of the driver fixture replicates `multiplier`×
  * with per-copy KEY SHIFTS, so the whole 130+-query registry runs
  * unchanged against a ~10× lake via `SPARK_GRAFT_SF_DIR`.
  *
  * Replication semantics (copy c of M, stride = max(key)+1 per family):
  *  - `region`/`nation` copy once unchanged — dimensions don't grow when
  *    facts do, which also preserves the broadcast-join shape the
  *    queries are designed around;
  *  - `customer`/`supplier`/`part` shift their primary keys; `orders`
  *    shifts (o_orderkey, o_custkey); `lineitem` shifts (l_orderkey,
  *    l_partkey, l_suppkey) by the SAME strides, so referential
  *    integrity holds within every copy and join fan-outs match the
  *    fixture's per-key profile at M× volume;
  *  - `events` shifts (event_id, user_id): M× users, each with the
  *    fixture's per-user time series over the same window — windows,
  *    sessionization and EWMA see M× groups, aggregations see M×
  *    density per time bucket;
  *  - `documents`/`embeddings` come from [[GenCorpus]]'s planted-dup
  *    generators (not replication — replicated text would inflate the
  *    dedup families' true-duplicate rate 10×).
  *
  * Deterministic: a pure function of the source fixture + sizes.
  *
  * Usage: `runMain graft.tools.GenLake <outDir> [multiplier=10]
  *   [nDocs=100000] [nVecs=20000] [srcDir=/root/testdata/sf0.1]` */
object GenLake {

  private[tools] def replicate(df: DataFrame, m: Int, shifts: Seq[(String, Long)]): DataFrame = {
    val spark = df.sparkSession
    // Shifted keys are cast back to the source dtype; a narrow key column
    // (int/short) would silently WRAP once (m-1)*stride + max(key) exceeds
    // its range, breaking the uniqueness/referential-integrity invariants
    // the copies are built on. Refuse loudly instead of wrapping. The max
    // original key is measured from the DATA (one tiny agg per key), not
    // assumed to be stride-1 — a caller passing a stride smaller than
    // max(key)+1 must not slip past the check while the cast still wraps.
    // all key maxima in ONE aggregate (not one Spark job per shifted key)
    val maxRow = df.agg(max(col(shifts.head._1)).cast("long"),
      shifts.tail.map { case (k, _) => max(col(k)).cast("long") }: _*).head()
    shifts.zipWithIndex.foreach { case ((k, stride), i) =>
      val maxKey = if (maxRow.isNullAt(i)) 0L else maxRow.getLong(i) // empty/all-null: nothing to wrap
      val bound = df.schema(k).dataType.typeName match {
        case "integer" => Int.MaxValue.toLong
        case "short"   => Short.MaxValue.toLong
        case "byte"    => Byte.MaxValue.toLong
        case _         => Long.MaxValue
      }
      def overflow(shifted: String): Nothing = throw new IllegalArgumentException(
        s"GenLake: replicated key '$k' overflows its ${df.schema(k).dataType.typeName} " +
          s"column (max shifted key $shifted > $bound); lower the multiplier " +
          "or widen the fixture key to long")
      // exact math so the CHECK itself can't wrap on absurd multipliers;
      // an ArithmeticException from the check implies the key overflows
      // LONG — rethrow as the same crafted message, never a raw error
      val maxShifted =
        try Math.addExact(Math.multiplyExact(m.toLong - 1, stride), maxKey)
        catch { case _: ArithmeticException => overflow("beyond Long range") }
      if (maxShifted > bound) overflow(maxShifted.toString)
    }
    val copies = broadcast(spark.range(m).toDF("__copy"))
    shifts.foldLeft(df.crossJoin(copies)) { case (d, (k, stride)) =>
      d.withColumn(k, (col(k) + col("__copy") * stride).cast(d.schema(k).dataType))
    }.drop("__copy")
  }

  private def stride(df: DataFrame, cols: String*): Long = {
    val maxes = cols.map(c => max(col(c)).cast("long"))
    val top = if (maxes.size == 1) maxes.head else greatest(maxes: _*)
    df.select(top).head().getLong(0) + 1L
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val m = args.lift(1).map(_.toInt).getOrElse(10)
    val nDocs = args.lift(2).map(_.toLong).getOrElse(100000L)
    val nVecs = args.lift(3).map(_.toLong).getOrElse(20000L)
    val srcDir = args.lift(4).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    writeLake(spark, outDir, m, nDocs, nVecs, srcDir)
    val counts = graft.Tables.all.map(n =>
      s"$n=${spark.read.parquet(s"$outDir/$n.parquet").count()}").mkString(" ")
    println(s"[genlake] wrote ${m}x lake to $outDir: $counts")
    spark.stop()
  }

  /** The generation body, session-injected so specs can drive the real
    * writers (GenLakeSpec asserts the replication invariants). */
  def writeLake(spark: SparkSession, outDir: String, m: Int,
      nDocs: Long, nVecs: Long, srcDir: String): Unit = {
    import spark.implicits._

    def t(name: String) = graft.Tables(spark, srcDir, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dimensions: one copy
    write(t("region"), "region")
    write(t("nation"), "nation")

    val custStride = stride(t("customer"), "c_custkey")
    val suppStride = stride(t("supplier"), "s_suppkey")
    val partStride = stride(t("part"), "p_partkey")
    val orderStride = stride(t("orders"), "o_orderkey")
    val eventStride = stride(t("events"), "event_id")
    val userStride = stride(t("events"), "user_id")

    write(replicate(t("customer"), m, Seq("c_custkey" -> custStride)), "customer")
    write(replicate(t("supplier"), m, Seq("s_suppkey" -> suppStride)), "supplier")
    write(replicate(t("part"), m, Seq("p_partkey" -> partStride)), "part")
    write(replicate(t("orders"), m,
      Seq("o_orderkey" -> orderStride, "o_custkey" -> custStride)), "orders")
    write(replicate(t("lineitem"), m,
      Seq("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)), "lineitem")
    write(replicate(t("events"), m,
      Seq("event_id" -> eventStride, "user_id" -> userStride)), "events")

    // corpus tables: GenCorpus's planted-structure generators
    spark.range(nDocs).map { i =>
      val text = GenCorpus.finalText(i)
      (i, text, GenCorpus.langOf(i), "src" + (i % 20L), text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.range(nVecs).map { i =>
      (i, GenCorpus.vec(i, nVecs), (i % 8L).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
