package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.plans.Compactor
import graft.sources.HistoryTable
import graft.streaming.IngestDaemon
import Main._

/** `ingest`: the write path as a closed loop with one client, the daemon.
  * Before each tick the feed publishes [[Batch]] new 5-minute zips; the
  * tick is `IngestDaemon.runOnce` against the feed page, timed from
  * publish until its rows are in the lake. Every [[Cadence]] ticks the
  * loop runs one `Compactor.runOnce` sweep and vacuums the three
  * histories, in series, so the history gate's cost stays flat over the
  * run. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._

  private val spark = ctx.spark
  private var feed: Feed = _
  private var downloads, lake, hist: String = _
  private var histories: Seq[HistoryTable] = Nil

  private var nextInterval = 0
  private var csvBytes = 0L
  private var ticksDone = 0L

  // CSV texts are rendered ahead in blocks, one Spark job per table
  private val pending = scala.collection.mutable.Queue.empty[(Int, String)]

  private def render(): Unit = {
    val from = nextInterval
    nextInterval += GenBlock
    pending ++= (from until nextInterval).zip(NemGen.csvs(spark, ctx.seed, Sizes, from, nextInterval))
  }

  private def generate(): Seq[(String, Array[Byte])] = (0 until Batch).map { _ =>
    if (pending.isEmpty) render()
    val (i, csv) = pending.dequeue()
    csvBytes += csv.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    (NemGen.zipName(i), NemGen.zip(i, csv))
  }

  /** One tick; returns its latency in seconds, from publish on. */
  private def tick(): Double = {
    val zips = generate()
    val t = System.nanoTime()
    zips.foreach { case (n, b) => feed.publish(n, b) }
    val res = IngestDaemon.runOnce(spark, feed.pageUrl, feed.fetchPage(), downloads, lake, hist)
    require(res.downloaded == Batch, s"tick downloaded ${res.downloaded} of $Batch zips")
    require(res.tablesWritten == NemGen.Tables.size,
      s"tick wrote ${res.tablesWritten} of ${NemGen.Tables.size} tables")
    ticksDone += 1
    (System.nanoTime() - t) / 1e9
  }

  private def sweep(): Unit = Compactor.runOnce(spark, lake, histories(2))

  private def vacuum(): Unit = histories.foreach(_.vacuum())

  private val sweepTimes = ArrayBuffer.empty[Double]
  private val preSweepFilesPerPartition = ArrayBuffer.empty[Double]
  private val historyFiles = ArrayBuffer.empty[Double]

  /** A fresh feed server, empty lake and histories, and the first block
    * of CSV texts. */
  def prepare(): Unit = {
    feed = new Feed(ctx.dir("feed"), threads = 2)
    downloads = ctx.dir("downloads").toString
    lake = ctx.dir("lake").toString
    hist = ctx.dir("history").toString
    histories = Seq(HistoryTable.downloaded(spark, hist),
      HistoryTable.processed(spark, hist), HistoryTable.compacted(spark, hist))
    // interval -120 is AEST midnight, so every published zip of a run
    // lands in the same `date=` partition of each table
    nextInterval = -120
    render()
  }

  /** The first tick and the first sweep pay the JIT, codegen and
    * Hadoop-client start-up. */
  def warmup(): Unit = {
    (0 until WarmTicks).foreach(_ => tick())
    sweep()
    vacuum()
  }

  /** Whole cycles of [[Cadence]] ticks, a sweep and a vacuum, until
    * `seconds` have passed. Traced runs trace every other tick and every
    * sweep and vacuum. */
  def window(seconds: Double, tr: Option[Tracer]): Window = {
    def sp[T](name: String, on: Boolean)(b: => T): T = tr.filter(_ => on).fold(b)(_.traced(name)(b))
    val ops = ArrayBuffer.empty[Op]
    sweepTimes.clear()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size % Cadence != 0) {
      val on = tr.isDefined && ops.size % 2 == 1
      if (on) historyFiles += Layout.parquetFiles(hist).size.toDouble
      ops += Op(sp("tick", on)(tick()), on)
      if (ops.size % Cadence == 0) {
        if (tr.isDefined) preSweepFilesPerPartition += Layout.filesPerPartition(lake)
        val s = sp("sweep", tr.isDefined)(Stats.time(sweep())._2)
        sweepTimes += s
        ctx.log(f"ticks ${ops.takeRight(Cadence).map(o => f"${o.seconds}%.2f").mkString(" ")}, sweep $s%.2f s")
        sp("vacuum", tr.isDefined)(vacuum())
      }
    }
    Window(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** A tick runs, in order: the downloaded-history gate, the downloads,
    * the downloaded-history add, the processed-history gate, the split and
    * the processed-history add. Spark attributes the split's jobs to
    * `NemCsv.scala` and the adds' writes to `HistoryTable.scala`; the feed
    * server times the downloads; the rest of the tick is the two gates
    * with their listings. */
  def layers(tr: Tracer, w: Window): Map[String, Double] = {
    val ticks = tr.spansNamed("tick")
    val reqs = feed.requests
    val rowsPerTick = Batch * NemGen.rowsPerInterval(Sizes)
    def iv(js: Seq[Tracer.Job]) = js.map(j => (j.startMs, j.endMs))
    val perTick = ticks.map { s =>
      val js = tr.jobsOf(s)
      val splitSite = js.filter(_.site == "NemCsv.scala")
      val (from, to) = (splitSite.map(_.startMs).min, splitSite.map(_.endMs).max)
      val split = js.filter(j => j.startMs >= from && j.startMs <= to)
      val adds = js.filter(j => j.site == "HistoryTable.scala" && j.outBytes > 0)
      val rq = reqs.filter(r => r.startMs >= s.startMs && r.startMs <= s.endMs)
      val splitS = (to - from) / 1000.0
      val addS = Tracer.unionSeconds(iv(adds))
      val dlS = Tracer.unionSeconds(rq.map(r => (r.startMs, r.endMs)))
      Map("split.s" -> splitS, "split.jobs" -> split.size.toDouble,
        "split.tasks" -> split.map(_.tasks).sum.toDouble, "split.rows_per_s" -> rowsPerTick / splitS,
        "history.add_s" -> addS, "history.gate_s" -> math.max(0.0, s.seconds - splitS - addS - dlS),
        "feed.download_s" -> dlS, "feed.requests" -> rq.size.toDouble,
        "feed.bytes" -> rq.map(_.bytes).sum.toDouble)
    }
    val sweeps = tr.spansNamed("sweep")
    val sweepJobs = sweeps.map(tr.jobsOf)
    perTick.head.keys.map(k => k -> Stats.median(perTick.map(_(k)))).toMap ++ Map(
      "trace.overhead_pct" -> Stats.overheadPct(w.traced, w.plain),
      "tick_p50_s" -> Stats.median(w.plain),
      "sweep_p50_s" -> Stats.median(sweepTimes.toSeq),
      "ingest_rows_per_s" -> w.ops.size * Batch * NemGen.rowsPerInterval(Sizes) / w.seconds,
      "lake_bytes_per_csv_byte" -> Layout.parquetFiles(lake).map(_.length()).sum.toDouble / csvBytes,
      "history.files" -> Stats.median(historyFiles.toSeq),
      "history.vacuum_s" -> Stats.median(tr.spansNamed("vacuum").map(_.seconds)),
      "compact.s" -> Stats.median(sweeps.map(_.seconds)),
      "compact.jobs" -> Stats.median(sweepJobs.map(_.size.toDouble)),
      "compact.bytes_in" -> Stats.median(sweepJobs.map(_.map(_.inBytes).sum.toDouble)),
      "compact.bytes_out" -> Stats.median(sweepJobs.map(_.map(_.outBytes).sum.toDouble)),
      "lake.files_per_partition" -> Stats.median(preSweepFilesPerPartition.toSeq)
    ) ++ Layers.perOp(tr, ticks, cores = ctx.cores)
  }

  def verify(): Unit = {
    val zips = Layout.files(downloads).filter(_.getName.endsWith(".zip")).map(_.getAbsolutePath)
    ctx.check("ingest.zips_landed", zips.size == ticksDone * Batch,
      s"${zips.size} zips for $ticksDone ticks of $Batch")
    val report = graft.pipeline.Reconcile.run(spark, zips, lake).collect()
    val bad = report.filterNot(_.getAs[Boolean]("matches"))
    ctx.check("ingest.reconcile", bad.isEmpty && report.length == NemGen.Tables.size,
      s"${report.length} tables, mismatches: ${bad.mkString(";")}")
    val lakeRows = report.map(_.getAs[Long]("lakeRows")).sum
    val expected = ticksDone * Batch * NemGen.rowsPerInterval(Sizes)
    ctx.check("ingest.rows_closed_form", lakeRows == expected, s"lake $lakeRows expected $expected")
    Layout.checkSchemas(ctx, "ingest", lake)
    feed.stop()
  }
}

object IngestWorkload {
  /** Zips published per tick. */
  val Batch = 1
  /** Ticks per compaction sweep + history vacuum. */
  val Cadence = 5
  val WarmTicks = 1
  /** Intervals rendered per generator pass. */
  val GenBlock = 8
  val Sizes = NemGen.Sizes(units = 20, constraints = 8)
}
