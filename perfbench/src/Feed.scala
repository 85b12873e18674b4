package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** The AEMO feed as a loopback HTTP server inside the benchmark JVM: an
  * HTML page linking every zip published so far, and the zips
  * themselves. It records each request's interval and size, which is how
  * the benchmark sees `sources.Fetch` from outside. */
final class Feed(dir: Path, threads: Int) {

  final case class Served(startMs: Long, endMs: Long, bytes: Long)

  private val published = ArrayBuffer.empty[String]
  private val served = ArrayBuffer.empty[Served]
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.currentTimeMillis()
    var n = 0L
    try {
      val p = ex.getRequestURI.getPath
      val body: Array[Byte] =
        if (p == "/feed/") page().getBytes("UTF-8")
        else if (p.startsWith("/zips/") && isPublished(p.stripPrefix("/zips/")))
          Files.readAllBytes(dir.resolve(p.stripPrefix("/zips/")))
        else null
      if (body == null) ex.sendResponseHeaders(404, -1)
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        n = body.length
      }
    } finally {
      ex.close()
      synchronized { served += Served(t0, System.currentTimeMillis(), n) }
    }
  })
  server.setExecutor(pool)
  server.start()

  val pageUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/feed/"

  private def isPublished(name: String): Boolean = synchronized(published.contains(name))

  private def page(): String = synchronized {
    published.map(n => s"""<a href="/zips/$n">$n</a>""").mkString("<html><body>\n", "\n", "\n</body></html>")
  }

  /** Write the zip and list it on the page. */
  def publish(name: String, bytes: Array[Byte]): Unit = {
    Files.write(dir.resolve(name), bytes)
    synchronized { published += name }
  }

  def requests: Seq[Served] = synchronized(served.toList)

  def fetchPage(): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(pageUrl)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"feed page returned ${resp.statusCode()}")
    resp.body()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
