package perfbench

import java.nio.file.Files
import scala.collection.mutable
import graft.queries.Registry
import Main._

/** `registry`: the LLM-data operator library through its query registry.
  * A pass runs a fixed selection of queries from each of the ten family
  * files, in an order drawn from the seed, forces each with
  * `Bench.force` and clears the caches between queries the way `Verify`
  * does, so no query reads an earlier one's persisted blocks. Windows run
  * whole passes; a pass is the operation. */
final class RegistryWorkload(ctx: Ctx) extends Workload {
  import RegistryWorkload._

  private val spark = ctx.spark
  private var dir: String = _
  private val rng = new java.util.Random(ctx.seed)
  private val fns = Registry.queries
  private val queryTimes = mutable.ArrayBuffer.empty[(String, Double, Boolean)]

  /** One pass; returns (query, seconds, traced) in run order. Query `j`
    * of [[Selected]] is traced on passes `k` where `k + j` is even. */
  private def pass(k: Int, tr: Option[Tracer]): Seq[(String, Double, Boolean)] = {
    val order = scala.util.Random.javaRandomToRandom(rng).shuffle(Selected.map(_._2).zipWithIndex)
    order.map { case (q, j) =>
      val on = tr.isDefined && (k + j) % 2 == 0
      def run() = Stats.time(graft.Bench.force(fns(q)(spark, dir)))._2
      val s = tr.filter(_ => on).fold(run())(_.traced(s"q:$q")(run()))
      ctx.clearCaches()
      (q, s, on)
    }
  }

  /** A copy of the fixture tables in a fresh directory. */
  def prepare(): Unit = {
    val missing = Selected.map(_._2).filterNot(q => fns.contains(q) && Registry.oracleSql.contains(q))
    require(missing.isEmpty, s"selected queries without a registry entry or oracle: $missing")
    val src = ctx.data.resolve(SfDir)
    require(Files.isDirectory(src), s"missing $src")
    val dst = ctx.dir(SfDir)
    Layout.files(src.toString).foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
    dir = dst.toString
  }

  /** One pass that writes every selected query's result the way
    * `Verify` does, for the DuckDB oracle comparison in `checks.py`, then
    * one forced pass. The writing queries run side by side: their first
    * runs are mostly single-threaded planning and code generation. The
    * first pass after them still runs slower, by a varying amount, so it
    * is not timed. */
  def warmup(): Unit = {
    val out = ctx.dir("registry-results")
    graft.Par.mapBounded(Selected.map(_._2).toIndexedSeq, ctx.cores) { q =>
      Some(fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString))
    }
    ctx.clearCaches()
    ctx.py("results") = out.toString
    pass(0, None)
  }

  /** The operation is a pass: one client running the whole selection, the
    * way a test suite runs. A median over single queries would jump
    * between unlike queries from run to run. Traced runs make at least
    * two passes, so every query runs both traced and plain. */
  def window(seconds: Double, tr: Option[Tracer]): Window = {
    val passes = mutable.ArrayBuffer.empty[Op]
    queryTimes.clear()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || (tr.isDefined && passes.size < 2)) {
      val p = Stats.time(pass(passes.size, tr))
      queryTimes ++= p._1
      passes += Op(p._2, traced = false)
      ctx.log(f"pass ${p._2}%.2f s: " + p._1.map { case (q, t, _) => f"$q=$t%.2f" }.mkString(" "))
    }
    Window(passes.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Family figures are per traced run of the family's query. The
    * overhead is the median over queries of traced over plain time. */
  def layers(tr: Tracer, w: Window): Map[String, Double] = {
    val spans = tr.spans.filter(_.name.startsWith("q:")).toSeq
    val byQuery = queryTimes.groupBy(_._1)
    val ratios = byQuery.values.map { ts =>
      Stats.median(ts.filter(_._3).map(_._2).toSeq) / Stats.median(ts.filterNot(_._3).map(_._2).toSeq)
    }
    Families.flatMap { f =>
      val mine = spans.filter(s => Selected.exists(x => x._1 == f && s"q:${x._2}" == s.name))
      Seq(s"registry.${f}_s" -> Stats.median(mine.map(_.seconds)),
        s"registry.${f}_jobs" -> Stats.median(mine.map(s => tr.jobsOf(s).size.toDouble)))
    }.toMap ++ Map(
      "trace.overhead_pct" -> 100.0 * (Stats.median(ratios.toSeq) - 1.0),
      "registry_pass_s" -> Stats.median(w.ops.map(_.seconds)),
      "registry_query_p50_s" -> Stats.median(queryTimes.filterNot(_._3).map(_._2).toSeq)
    ) ++ Layers.perOp(tr, spans, ctx.cores)
  }

  /** The results were written during the warm-up. */
  def verify(): Unit = {
    ctx.py("sf_dir") = dir
    ctx.py("oracle_sql") = Selected.map { case (_, q) => q -> Registry.oracleSql(q) }.toMap
  }
}

object RegistryWorkload {
  /** The registry's own sf0.001 fixture tables, shipped with the benchmark. */
  val SfDir = "sf0.001"

  val Families: Seq[String] = Seq("relational", "windowset", "dedup", "semantic_dedup", "ann",
    "text", "text_report", "sketch", "nem", "multimodal")

  /** (family file, query): one oracle-checked query per family file,
    * chosen for the operators they exercise and so that a warm pass stays
    * near four seconds on four cores. The NEM one is the settlement tail;
    * the `crunch` workload runs the FPP pipeline itself. */
  val Selected: Seq[(String, String)] = Seq(
    "relational" -> "j05_asof_interp",
    "windowset" -> "w01_ewma",
    "dedup" -> "dd_exact_groups",
    "semantic_dedup" -> "dd_incremental",
    "ann" -> "ann_topk_brute",
    "text" -> "ta_tokens_bpe",
    "text_report" -> "ta_vocab",
    "sketch" -> "ta_heavy_hitters",
    "nem" -> "nem_settlement",
    "multimodal" -> "mm_image_pipeline")
}
