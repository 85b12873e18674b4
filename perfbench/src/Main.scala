package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run inside one JVM: set up the workload, run its timed
  * window, check its outputs and write a result file for `run.py`.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --data DIR --out FILE --t0 EPOCH_MS`
  *
  * Set-up is the session start, the workload's inputs built from the
  * seed, then one warm-up phase. `setup_s` is the time from process
  * start to the first timed operation.
  *
  * With `--trace 1` the window interleaves traced and untraced
  * operations; the per-layer figures come from the traced ones, and the
  * tracing overhead compares the two kinds. */
object Main {

  final case class Check(name: String, ok: Boolean, detail: String)

  /** One timed operation: its latency and whether it ran traced. */
  final case class Op(seconds: Double, traced: Boolean)

  /** What one timed window measured: its operations and its wall time.
    * An operation that fails ends the run. */
  final case class Window(ops: Seq[Op], seconds: Double) {
    def plain: Seq[Double] = ops.filterNot(_.traced).map(_.seconds)
    def traced: Seq[Double] = ops.filter(_.traced).map(_.seconds)
  }

  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
      val cores: Int, val work: Path, val data: Path, t0: Long) {
    /** Progress line with the seconds since the process started. */
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1000.0}%7.2f s $msg")
    val checks = mutable.ArrayBuffer.empty[Check]
    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += Check(name, ok, detail)
      if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    }
    /** Values handed to the Python-side checks. */
    val py = mutable.LinkedHashMap.empty[String, Any]
    def dir(name: String): Path = Files.createDirectories(work.resolve(name))
    /** Drop every cached frame and persisted RDD, the way `Verify` does
      * between queries. */
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  trait Workload {
    /** Build the inputs from the seed. */
    def prepare(): Unit
    /** Untimed operations that bring the JVM to its steady state. */
    def warmup(): Unit
    /** Run operations until `seconds` have passed. With a tracer, the
      * workload traces some operations and leaves the others plain. */
    def window(seconds: Double, tr: Option[Tracer]): Window
    /** Output checks, outside the timed window. */
    def verify(): Unit
    /** Per-layer metrics of a traced window, the tracing overhead among
      * them. A key the workload returns is one it owns: its value must be
      * a number. */
    def layers(tr: Tracer, w: Window): Map[String, Double]
  }

  /** The program's tuned session on `local[cores]`, with every directory
    * Spark writes under `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.attach(spark)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0").toLong
    val cores = a("cores").toInt
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val traced = a("trace") == "1"
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, cores, work,
      Paths.get(a("data")).toAbsolutePath, t0)
    ctx.log("session up")
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      val w: Workload = a("workload") match {
        case "ingest" => new IngestWorkload(ctx)
        case "crunch" => new CrunchWorkload(ctx)
        case "registry" => new RegistryWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val inputsS = Stats.time(w.prepare())._2
      ctx.log(f"inputs built: $inputsS%.2f s")
      val warmS = Stats.time(w.warmup())._2
      ctx.log(f"warm-up done: $warmS%.2f s")
      val setupS = (System.currentTimeMillis() - t0) / 1000.0
      val tr = if (traced) Some(new Tracer(spark)) else None
      val s0 = if (traced) graft.Bench.sentinel(spark) else 0.0
      val win = w.window(ctx.seconds, tr)
      ctx.log(s"window done: ${win.ops.size} operations")
      val lat = win.ops.map(_.seconds)
      val e2e = mutable.LinkedHashMap[String, Double](
        "setup_s" -> setupS,
        "op_p50_s" -> Stats.median(lat),
        "ops_per_s" -> lat.size / win.seconds)
      tr.foreach { t =>
        val s1 = graft.Bench.sentinel(spark)
        t.drain()
        ctx.check("trace.listeners_fired", t.jobs.nonEmpty && t.plans.nonEmpty,
          s"${t.jobs.size} jobs, ${t.plans.size} query plans seen")
        // since JVM start: most classes compile during set-up
        val (classes, compileS) = org.apache.spark.BenchAccess.codegen()
        out("layer") = w.layers(t, win) ++ Map(
          "setup.session_s" -> sessionS,
          "setup.inputs_s" -> inputsS,
          "setup.warmup_s" -> warmS,
          "codegen.compile_s" -> compileS,
          "codegen.classes" -> classes.toDouble,
          "host.sentinel_s" -> (s0 + s1) / 2.0)
      }
      w.verify()
      ctx.log("verify done")
      e2e("peak_rss_mb") = Stats.peakRssMb()
      out("e2e") = e2e
      out("attempted") = win.ops.size + ctx.checks.size
      out("checks") = ctx.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
      out("py") = ctx.py
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      Files.writeString(Paths.get(a("out")), Json(out))
      spark.stop()
    }
    // the feed server's threads must not keep the JVM alive
    sys.exit(0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Tracing overhead in percent: traced over plain medians. */
  def overheadPct(traced: Seq[Double], plain: Seq[Double]): Double =
    100.0 * (median(traced) / median(plain) - 1.0)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case a: Array[_] => apply(a.toSeq)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case s => str(s.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
