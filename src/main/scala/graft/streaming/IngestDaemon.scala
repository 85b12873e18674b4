package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{Fetch, HistoryTable, NemCsv}

/** The complete ingest daemon — the reference's `nemscraper` main loop
  * (/root/reference/src/main.rs:39-74) as one composable pass:
  *
  *   feed page → scrape zip links (S1) → skip already-downloaded
  *   (history anti-join semantics) → download with retries (S3) →
  *   split to the parquet lake (S4-S6, S10) → record history.
  *
  * `runOnce` processes one feed tick (the reference cycles feeds
  * round-robin at 60 s — compose with [[Fetch.RoundRobin]] and a driver
  * loop or `Trigger.ProcessingTime`); everything downstream of the
  * driver-side fetch runs distributed. Idempotent: re-running against the
  * same feed downloads and processes nothing new.
  */
object IngestDaemon {

  final case class TickResult(scraped: Int, downloaded: Int, tablesWritten: Long)

  /** Shared engine-wide control (see [[graft.DaemonControl]]); aliased
    * here so existing callers keep `new IngestDaemon.DaemonControl`. */
  type DaemonControl = graft.DaemonControl

  /** Continuous daemon: cycle `feeds` round-robin every `intervalMillis`
    * (the reference's 60 s loop, urls.rs:176-209), run a full ingest tick
    * per cycle, stop gracefully on `control.stop()` or JVM shutdown.
    * A failed tick is logged and the loop continues (transient feed/HTTP
    * errors must not kill the daemon). Blocking; returns completed tick
    * results (bounded by `maxTicks` — Long.MaxValue means run forever).
    */
  def run(spark: SparkSession, feeds: Seq[String], fetchPage: String => String,
      downloadDir: String, lakeRoot: String, historyRoot: String,
      intervalMillis: Long = 60000L, maxTicks: Long = Long.MaxValue,
      control: DaemonControl = new DaemonControl,
      installShutdownHook: Boolean = true,
      onTick: (String, TickResult) => Unit = (_, _) => ()): Seq[TickResult] = {
    // runGuarded: the shutdown hook requests stop, then HOLDS the JVM
    // open until in-flight work drains — a hook that only flips the flag
    // would let the JVM kill a parquet write mid-commit
    control.runGuarded(installShutdownHook) {
      val rr = new Fetch.RoundRobin(feeds)
      val results = scala.collection.mutable.ArrayBuffer.empty[TickResult]
      var tick = 0L
      var stopped = control.isStopped
      while (tick < maxTicks && !stopped) {
        val feed = rr.next()
        try {
          val res = runOnce(spark, feed, fetchPage(feed), downloadDir, lakeRoot, historyRoot)
          results += res
          onTick(feed, res)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[daemon] tick failed for $feed: ${e.getMessage}")
        }
        tick += 1
        stopped = if (tick < maxTicks) control.awaitOrStop(intervalMillis) else control.isStopped
      }
      results.toSeq
    }
  }

  def runOnce(spark: SparkSession, feedUrl: String, feedHtml: String,
      downloadDir: String, lakeRoot: String, historyRoot: String): TickResult = {
    import spark.implicits._
    val downloadedHist = HistoryTable.downloaded(spark, historyRoot)
    val processedHist = HistoryTable.processed(spark, historyRoot)

    val links = Fetch.scrapeZipLinks(feedHtml, feedUrl)
      .map(u => (u, u.split('/').last))
    // idempotency gate on the filename key (main.rs:177-179)
    val freshNames = downloadedHist
      .filterNew(links.map(_._2).toDF("candidate"), "candidate")
      .as[String].collect().toSet
    // one URL per filename: two links resolving to the same basename
    // (mirror paths, relative vs absolute) would otherwise race on the
    // same .tmp file in the concurrent download pool
    val fresh = links.filter(l => freshNames.contains(l._2))
      .groupBy(_._2).map(_._2.head).toSeq.sortBy(_._2)

    // 4 concurrent downloaders, like the reference's worker pool
    // (main.rs:110-132); a failed download is logged and skipped — its
    // name stays out of the history so the next tick retries it
    val downloaded = graft.Par.mapBounded(fresh.toIndexedSeq, parallelism = 4) {
      case (url, name) =>
        try {
          val (path, size) = Fetch.download(url, downloadDir)
          Some((name, url, size, path.toString))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[daemon] download failed for $url: ${e.getMessage}")
            None
        }
    }
    if (downloaded.nonEmpty) {
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      downloadedHist.add(downloaded.map { case (n, u, s, _) => (n, u, s) }
        .toDF("filename", "url", "size_bytes")
        .withColumn("downloaded_at", org.apache.spark.sql.functions.lit(now)))
    }

    // process everything in the download dir not yet split — NOT just this
    // tick's downloads: a crash between the download-history write and
    // splitToLake would otherwise orphan the file forever (the download
    // gate above would skip it on every later tick)
    val landed = Option(new java.io.File(downloadDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.endsWith(".tmp"))
      .map(_.getAbsolutePath).toSeq
    val toProcess = processedHist
      .filterNew(landed.toDF("candidate"), "candidate")
      .as[String].collect().toSeq
    val tables =
      if (toProcess.isEmpty) 0L
      else {
        val summary = NemCsv.splitToLake(spark, toProcess, lakeRoot)
        // the summary is a local frame: collecting it runs no Spark job,
        // where count() runs an aggregation (two jobs under AQE)
        val n = summary.collect().length.toLong
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        processedHist.add(toProcess.toDF("filename") // keyed by path
          .withColumn("processed_at", org.apache.spark.sql.functions.lit(now)))
        n
      }
    TickResult(links.size, downloaded.size, tables)
  }
}
