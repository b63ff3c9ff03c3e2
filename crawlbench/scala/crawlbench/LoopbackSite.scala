package crawlbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ScheduledExecutorService, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.fixtures.FixtureGen

/** The fixture web served over real HTTP on loopback, for the transport
  * workload: one listener per fixture host, so every host is its own origin
  * (`http://127.0.0.1:<port>`) exactly as `https://site-<h>.test` is in the
  * fixture world.
  *
  * Each page is FixtureGen's page rendered as HTML: its text and image refs
  * in `<main>`, the BFS links in `<footer>` and the nav TOC in `<nav>` (the
  * fast path's markdown drops both, so content hashes stay page-specific),
  * padded with one shared paragraph so the fast path's 500-character
  * quality gate passes. robots.txt and the sitemaps are FixtureGen's with the
  * host names mapped to the loopback origins.
  *
  * Every page response is delayed by FixtureGen's `loadMs` pattern,
  * 50 + 10·((j + delayShift) mod 7) ms for page j. The delay is a
  * scheduled task, not a sleeping thread, so `threads` request threads serve
  * any number of delayed requests. The site counts requests, in-flight
  * requests (peak and time-weighted mean while busy), errors and imposed
  * delay; [[reset]] starts a new count.
  */
final class LoopbackSite(p: FixtureGen.Params, threads: Int, delayShift: Int)
    extends AutoCloseable {
  import LoopbackSite._

  private def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name); t.setDaemon(true); t
  }
  private val pool = Executors.newFixedThreadPool(threads, daemon("loopback-site"))
  private val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(daemon("loopback-site-delay"))

  // Fixed ports make the URLs, and with them Spark's hash partitioning of
  // the frontier, the same on every run; a taken port falls back to any.
  private val servers: IndexedSeq[HttpServer] = (0 until p.hosts).map { h =>
    val s =
      try HttpServer.create(new InetSocketAddress("127.0.0.1", BasePort + h), 256)
      catch { case _: java.net.BindException =>
        HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256) }
    s.setExecutor(pool)
    s
  }

  /** `http://127.0.0.1:<port>` of fixture host h. */
  val origins: IndexedSeq[String] =
    servers.map(s => s"http://127.0.0.1:${s.getAddress.getPort}")

  private val FixtureOrigin = "(?i)https://site-(\\d+)\\.test".r

  /** Rewrites fixture origins (any letter case) in `s` to loopback origins. */
  def toLoopback(s: String): String =
    FixtureOrigin.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(origins(m.group(1).toInt)))

  private val responses: IndexedSeq[Map[String, Response]] =
    (0 until p.hosts).map { h =>
      val pages = (0 until FixtureGen.pageCount(p, h)).map { j =>
        val pg = FixtureGen.page(p, h, j)
        // FixtureGen's loadMs pattern repeats every 7 pages
        FixtureGen.pagePath(j) -> render(pg, FixtureGen.page(p, h, (j + delayShift) % 7).loadMs)
      }
      val robots = "/robots.txt" ->
        Response(200, "text/plain", FixtureGen.robotsTxt(h).getBytes(UTF_8), 0L)
      val sitemaps = FixtureGen.sitemapBodies(p, h).toSeq.map { case (url, (body, gz)) =>
        val mapped = toLoopback(new String(if (gz) gunzip(body) else body, UTF_8))
          .getBytes(UTF_8)
        new java.net.URI(url).getPath ->
          Response(200, "application/xml", if (gz) gzip(mapped) else mapped, 0L)
      }
      (pages ++ sitemaps :+ robots).toMap
    }

  private def render(pg: FixtureGen.Page, delayMs: Long): Response = {
    if (pg.status != 200) Response(pg.status, "text/html", NotFound, delayMs)
    else if (!pg.contentType.contains("text/html"))
      Response(200, pg.contentType, pg.content.getBytes(UTF_8), delayMs)
    else {
      def anchors(hrefs: Seq[String]) =
        hrefs.map(u => s"""<a href="${toLoopback(u)}">link</a>""").mkString("\n")
      val nav = if (pg.navLinks.isEmpty) "" else s"<nav>\n${anchors(pg.navLinks)}\n</nav>\n"
      val imgs = pg.imageRefs.map(id => s"""<img src="$id"/>""").mkString
      val html =
        s"""<!DOCTYPE html>
           |<html><head><meta charset="utf-8"></head><body>
           |$nav<main><p>${escape(pg.content)}</p>
           |$Padding
           |$imgs</main>
           |<footer>
           |${anchors(pg.links)}
           |</footer>
           |</body></html>
           |""".stripMargin
      Response(200, "text/html; charset=utf-8", html.getBytes(UTF_8), delayMs)
    }
  }

  // ---- counters ----
  private val requestCount = new AtomicLong()
  private val errorCount = new AtomicLong()
  private val delayTotal = new AtomicLong()
  private var inflight = 0
  private var inflightPeak = 0
  private var lastChangeNs = System.nanoTime()
  private var busyNs = 0L
  private var busyWeightedNs = 0L

  private def inflightDelta(d: Int): Unit = synchronized {
    val now = System.nanoTime()
    if (inflight > 0) {
      busyNs += now - lastChangeNs
      busyWeightedNs += (now - lastChangeNs) * inflight
    }
    lastChangeNs = now
    inflight += d
    if (inflight > inflightPeak) inflightPeak = inflight
  }

  def reset(): Unit = synchronized {
    requestCount.set(0); errorCount.set(0); delayTotal.set(0)
    inflightPeak = inflight; busyNs = 0L; busyWeightedNs = 0L
    lastChangeNs = System.nanoTime()
  }

  def stats: Stats = synchronized {
    inflightDelta(0)
    Stats(requestCount.get, errorCount.get, delayTotal.get, inflightPeak,
      if (busyNs > 0) busyWeightedNs.toDouble / busyNs else 0.0)
  }

  private def send(ex: HttpExchange, r: Response): Unit =
    try {
      ex.getResponseHeaders.add("Content-Type", r.contentType)
      ex.sendResponseHeaders(r.status, r.body.length.toLong)
      ex.getResponseBody.write(r.body)
    } catch {
      case _: java.io.IOException => errorCount.incrementAndGet()
    } finally {
      ex.close()
      inflightDelta(-1)
    }

  servers.zipWithIndex.foreach { case (s, h) =>
    s.createContext("/", (ex: HttpExchange) => {
      requestCount.incrementAndGet()
      inflightDelta(1)
      try {
        val r = responses(h).getOrElse(ex.getRequestURI.getRawPath,
          Response(404, "text/html", NotFound, 0L))
        if (r.delayMs <= 0) send(ex, r)
        else {
          delayTotal.addAndGet(r.delayMs)
          timer.schedule((() => pool.execute(() => send(ex, r))): Runnable,
            r.delayMs, TimeUnit.MILLISECONDS)
        }
      } catch {
        case e: Exception =>
          errorCount.incrementAndGet(); ex.close(); inflightDelta(-1)
          throw e
      }
    })
    s.start()
  }

  override def close(): Unit = {
    servers.foreach(_.stop(0))
    timer.shutdownNow(); pool.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object LoopbackSite {
  val BasePort = 18300

  final case class Response(status: Int, contentType: String, body: Array[Byte],
      delayMs: Long)

  final case class Stats(requests: Long, errors: Long, delayMs: Long,
      inflightMax: Int, inflightMean: Double)

  private val NotFound = "<html><body><h1>Not found</h1></body></html>".getBytes(UTF_8)

  /** Shared prose on every page: pushes the markdown past the fast path's
    * 500-character gate without touching what makes two pages differ (the
    * page's own text), and avoids every blocked-response pattern. */
  private val Padding =
    "<p>" + ("This paragraph is shared by every page of the loopback " +
      "documentation site, so that the converted markdown of each page is " +
      "long enough for the fast path and its content hash still depends " +
      "only on the page's own text above. ") * 3 + "</p>"

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos); g.write(b); g.close()
    bos.toByteArray
  }

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }
}
