package graft.streaming

import graft.SparkSpec
import graft.sources.NemFixture
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** End-to-end reference daemon flow against an in-JVM HTTP feed:
  * scrape → download → split → lake, idempotent on the second tick. */
class IngestDaemonSpec extends SparkSpec {

  def zipBytes(csv: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("PUBLIC_FPP_20250607.CSV"))
    zos.write(csv.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    bos.toByteArray
  }

  test("tick: scrape feed page, download zips, split to lake; second tick is a no-op") {
    val payload = zipBytes(NemFixture.csv)
    val html =
      """<html><a href="PUBLIC_FPP_20250607.zip">r1</a>
        |<a href="unrelated.csv">skip</a></html>""".stripMargin
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    var hits = 0
    server.createContext("/feed/PUBLIC_FPP_20250607.zip", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        hits += 1
        x.sendResponseHeaders(200, payload.length)
        x.getResponseBody.write(payload); x.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/feed/"
      val dl = tmpDir("daemon_dl"); val lake = tmpDir("daemon_lake"); val hist = tmpDir("daemon_hist")
      val r1 = IngestDaemon.runOnce(spark, base, html, dl, lake, hist)
      assert(r1 === IngestDaemon.TickResult(scraped = 1, downloaded = 1, tablesWritten = 2))
      assert(hits === 1)
      // lake content: row invariant holds end-to-end
      assert(spark.read.parquet(s"$lake/FPP---UNIT_MW---1").count() === 4)
      assert(spark.read.parquet(s"$lake/FPP---REGION_FREQ_MEASURE---1").count() === 3)
      // second tick: same feed → nothing downloaded, nothing processed
      val r2 = IngestDaemon.runOnce(spark, base, html, dl, lake, hist)
      assert(r2 === IngestDaemon.TickResult(scraped = 1, downloaded = 0, tablesWritten = 0))
      assert(hits === 1) // the server was not contacted again
      assert(spark.read.parquet(s"$lake/FPP---UNIT_MW---1").count() === 4) // no dupes
      // crash-recovery: a file that was downloaded (on disk) but never
      // split (e.g. JVM died before splitToLake) is picked up by the
      // next tick even though the feed offers nothing new
      java.nio.file.Files.write(java.nio.file.Paths.get(dl, "PUBLIC_ORPHAN_20250608.zip"),
        zipBytes(NemFixture.csv.replace("UNIT_MW", "ORPHAN_MW")))
      val r3 = IngestDaemon.runOnce(spark, base, html, dl, lake, hist)
      assert(r3.downloaded === 0 && r3.tablesWritten === 2)
      assert(spark.read.parquet(s"$lake/FPP---ORPHAN_MW---1").count() === 4)
    } finally server.stop(0)
  }

  test("continuous run: second tick picks up a newly-published zip; stop() wakes the sleep") {
    val payload1 = zipBytes(NemFixture.csv)
    val payload2 = zipBytes(NemFixture.csv.replace("20250607", "20250608")
      .replace("UNIT_MW", "LATE_MW"))
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    // the feed page grows between ticks: first one zip, then two
    @volatile var published = Seq("PUBLIC_FPP_20250607.zip")
    def serve(name: String, bytes: Array[Byte]): Unit =
      server.createContext(s"/feed/$name", new HttpHandler {
        def handle(x: HttpExchange): Unit = {
          x.sendResponseHeaders(200, bytes.length)
          x.getResponseBody.write(bytes); x.close()
        }
      })
    serve("PUBLIC_FPP_20250607.zip", payload1)
    serve("PUBLIC_FPP_20250608.zip", payload2)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/feed/"
      val dl = tmpDir("cd_dl"); val lake = tmpDir("cd_lake"); val hist = tmpDir("cd_hist")
      def page(feed: String): String = {
        val links = published.map(n => s"""<a href="$n">$n</a>""").mkString("\n")
        s"<html>$links</html>"
      }
      val control = new graft.DaemonControl
      var ticks = 0
      val results = IngestDaemon.run(spark, Seq(base), page,
        dl, lake, hist, intervalMillis = 50L, maxTicks = 3,
        control = control, installShutdownHook = false,
        onTick = (_, _) => {
          ticks += 1
          if (ticks == 1) published = published :+ "PUBLIC_FPP_20250608.zip"
        })
      assert(results.length === 3)
      assert(results(0).downloaded === 1)
      assert(results(1).downloaded === 1) // the newly-published zip
      assert(results(2).downloaded === 0) // steady state: idempotent
      assert(spark.read.parquet(s"$lake/FPP---LATE_MW---1").count() === 4)
      // graceful shutdown: a stopped control exits before the first tick
      control.stop()
      val none = IngestDaemon.run(spark, Seq(base), page, dl, lake, hist,
        intervalMillis = 60000L, maxTicks = 10,
        control = control, installShutdownHook = false)
      assert(none.isEmpty)
      // and stop() from another thread wakes a long inter-tick sleep fast
      val c2 = new graft.DaemonControl
      val t0 = System.nanoTime()
      val stopper = new Thread(() => { Thread.sleep(100); c2.stop() })
      stopper.start()
      val r = IngestDaemon.run(spark, Seq(base), page, dl, lake, hist,
        intervalMillis = 60000L, maxTicks = 5,
        control = c2, installShutdownHook = false)
      stopper.join()
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(r.length === 1) // one tick, then the sleep was interrupted
      assert(elapsedMs < 30000L, s"stop() should interrupt the 60s sleep, took ${elapsedMs}ms")
    } finally server.stop(0)
  }
}
