package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.operators.Ssrf
import graft.sources.{HtmlToMarkdown, HttpFetcher}

/** Exercises the REAL transport — the 5-level fetch fallback chain (native
  * markdown negotiation → markdown proxy → HTTP fast path with the 500-char
  * markdown gate → heavy terminal level with retries), pooled
  * java.net.http client, per-request + per-redirect-hop SSRF validation,
  * href + nav-scoped extraction — against local in-process HTTP servers.
  * Mirrors the reference's method-count assertions
  * (`tests/jobs/test_runner.py:319-1119`). */
class HttpFetcherSpec extends SparkSpec {
  import spark.implicits._

  /** test validator: the fixture servers live on loopback, which the
    * default (reference-parity) validator rightly rejects — so tests allow
    * exactly 127.0.0.1 and keep everything else on default semantics. */
  private val allowLoopback: String => Boolean =
    u => Ssrf.hostname(u) == "127.0.0.1" || !Ssrf.isSsrf(u)

  private def handler(status: Int, ctype: String, body: String): HttpHandler =
    (ex: HttpExchange) => {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", ctype)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

  private def newServer(): (HttpServer, String) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    (server, s"http://127.0.0.1:${server.getAddress.getPort}")
  }

  private def fetcher(proxy: Option[String] = None, native: Boolean = true,
      fast: Boolean = true) =
    new HttpFetcher(maxRetries = 1, timeoutMs = 3000,
      useNativeMarkdown = native, markdownProxyUrl = proxy,
      useHttpFastPath = fast, backoffUnitMs = 0L, validate = allowLoopback)

  private val bigBody: String = {
    val para = "<p>" + ("Documentation prose sentence with detail. " * 4) + "</p>"
    s"<html><body><h1>Title</h1>${para * 6}<a href='/docs/next'>next</a></body></html>"
  }

  test("chain: native markdown wins on content negotiation; per-level fallback order") {
    val (server, base) = newServer()
    // /native: serves markdown iff the Accept header asks for it
    server.createContext("/native", (ex: HttpExchange) => {
      val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
      val (ct, body) =
        if (accept.contains("text/markdown")) ("text/markdown", "# Native\n\ndoc body")
        else ("text/html", "<html>html fallback</html>")
      handler(200, ct, body).handle(ex)
    })
    server.createContext("/big", handler(200, "text/html", bigBody))
    server.createContext("/short", handler(200, "text/html",
      "<html><nav><a href='/short/n1'>n</a></nav>" +
        "<div class='left sidebar'><a href='/short/s1'>s</a></div>" +
        "<span role='navigation'><a href='/short/r1'>r</a></span>" +
        "<body>tiny<a href='/short/a'>a</a></body></html>"))
    server.createContext("/bin", handler(200, "application/pdf", "%PDF-1.4"))
    server.createContext("/err", handler(500, "text/html", "boom"))
    server.start()
    try {
      val urls = Seq("/native", "/big", "/short", "/bin", "/err", "/missing")
        .map(p => (s"$base$p", "127.0.0.1")).toDF("urlNorm", "host")
      val rows = fetcher().fetchPages(urls)
        .select("urlNorm", "status", "contentType", "content", "fetchMethod", "links", "navLinks")
        .collect().map(r => r.getString(0).stripPrefix(base) ->
          ((r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
            r.getSeq[String](5), r.getSeq[String](6)))).toMap

      val (nSt, nCt, nBody, nMeth, _, _) = rows("/native")
      assert(nSt == 200 && nCt.contains("text/markdown") && nMeth == "native")
      assert(nBody.startsWith("# Native"))

      val (bSt, _, bMd, bMeth, bLinks, _) = rows("/big")
      assert(bSt == 200 && bMeth == "http_fast")
      assert(bMd.length >= 500 && bMd.startsWith("# Title")) // ATX conversion
      assert(bLinks.contains("/docs/next")) // links from the RAW html

      val (sSt, _, _, sMeth, sLinks, sNav) = rows("/short")
      assert(sSt == 200 && sMeth == "playwright") // < 500 chars → fell through
      assert(sLinks.toSet == Set("/short/n1", "/short/s1", "/short/r1", "/short/a"))
      // nav scope spans <nav>, class-selector (.sidebar) and [role=navigation]
      assert(sNav.toSet == Set("/short/n1", "/short/s1", "/short/r1"))

      assert(rows("/bin")._4 == "playwright" && rows("/bin")._5.isEmpty)
      assert(rows("/err")._1 == 500 && rows("/err")._4 == "playwright")
      assert(rows("/missing")._1 == 404)

      // A2 per-level histogram shape (reference counter parity)
      val hist = fetcher().fetchPages(urls).groupBy("fetchMethod").count()
        .as[(String, Long)].collect().toMap
      assert(hist == Map("native" -> 1L, "http_fast" -> 1L, "playwright" -> 4L))
    } finally server.stop(0)
  }

  test("one response per question: requests per page and their Accept headers") {
    val (server, base) = newServer()
    // handlers run concurrently: /slow's native request sleeps past the
    // client timeout while the other pages are served
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    val seen = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[String]]()
    def counted(path: String)(respond: String => HttpHandler): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        seen.computeIfAbsent(path, _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
          .add(accept)
        respond(accept).handle(ex)
      })
    val native = "text/markdown, text/html;q=0.9, */*;q=0.8"
    val html = "text/html,*/*;q=0.8"
    counted("/big")(_ => handler(200, "text/html", bigBody))
    counted("/md")(_ => handler(200, "text/markdown", "# Native\n\nbody"))
    counted("/short")(_ => handler(200, "text/html", "<html><body>tiny</body></html>"))
    counted("/bin")(_ => handler(200, "application/pdf", "%PDF-1.4"))
    counted("/gone")(_ => handler(404, "text/html", "not found"))
    counted("/err")(_ => handler(500, "text/html", "boom"))
    counted("/mderr")(a =>
      if (a.contains("text/markdown")) handler(500, "text/markdown", "# error body")
      else handler(200, "text/html", bigBody))
    counted("/slow")(a =>
      if (a.contains("text/markdown")) { (ex: HttpExchange) =>
        Thread.sleep(6000); handler(200, "text/markdown", "# late").handle(ex) }
      else handler(200, "text/html", bigBody))
    server.start()
    try {
      val paths = Seq("/big", "/md", "/short", "/bin", "/gone", "/err", "/mderr", "/slow")
      val urls = paths.map(p => (s"$base$p", "127.0.0.1")).toDF("urlNorm", "host")
      val methods = new HttpFetcher(maxRetries = 1, timeoutMs = 3000,
        backoffUnitMs = 0L, validate = allowLoopback).fetchPages(urls)
        .select("urlNorm", "fetchMethod").as[(String, String)].collect()
        .map { case (u, m) => u.stripPrefix(base) -> m }.toMap
      def accepts(p: String): Seq[String] =
        Option(seen.get(p)).map(_.toArray(Array.empty[String]).toSeq).getOrElse(Seq.empty)
      assert(accepts("/big") == Seq(native) && methods("/big") == "http_fast")
      assert(accepts("/md") == Seq(native) && methods("/md") == "native")
      assert(accepts("/short") == Seq(native) && methods("/short") == "playwright")
      assert(accepts("/bin") == Seq(native) && methods("/bin") == "playwright")
      // a non-200 native answer is asked again; the heavy level reuses the 404
      assert(accepts("/gone") == Seq(native, html))
      // 5xx is asked again at every level
      assert(accepts("/err") == Seq(native, html, html))
      assert(accepts("/mderr") == Seq(native, html) && methods("/mderr") == "http_fast")
      // a timed-out native GET has no answer: the fast path sends its own
      assert(accepts("/slow") == Seq(native, html) && methods("/slow") == "http_fast")

      // a browser-backed renderer is still called (its own Accept shows it)
      seen.clear()
      val browserBacked = new graft.sources.RenderClient {
        override def render(url: String, get: graft.sources.RenderClient.Get)
            : Option[(Int, String, String)] =
          get(url, Seq("Accept" -> "text/html;rendered"))
      }
      val rendered = new HttpFetcher(maxRetries = 0, timeoutMs = 3000,
        backoffUnitMs = 0L, validate = allowLoopback, renderer = browserBacked)
        .fetchPages(Seq((s"$base/short", "127.0.0.1")).toDF("urlNorm", "host"))
        .select("fetchMethod").as[String].collect()
      assert(rendered.toSeq == Seq("playwright"))
      assert(accepts("/short") == Seq(native, "text/html;rendered"))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("chain: markdown proxy level (>100-char gate) sits between native and fast path") {
    val (target, tBase) = newServer()
    target.createContext("/page", handler(200, "text/html", "<html>small</html>"))
    target.start()
    val (proxy, pBase) = newServer()
    // absolute-form proxy: /{url} → markdown > 100 chars
    proxy.createContext("/", handler(200, "text/markdown",
      "# Proxied\n\n" + ("converted markdown body. " * 8)))
    proxy.start()
    try {
      val urls = Seq((s"$tBase/page", "127.0.0.1")).toDF("urlNorm", "host")
      val row = fetcher(proxy = Some(pBase)).fetchPages(urls)
        .select("fetchMethod", "content", "contentType").collect().head
      assert(row.getString(0) == "proxy")
      assert(row.getString(1).startsWith("# Proxied") && row.getString(1).length > 100)
      assert(row.getString(2) == "text/markdown")
      // short proxy responses fail the 100-char gate → falls to later levels
      val (shortProxy, spBase) = newServer()
      shortProxy.createContext("/", handler(200, "text/markdown", "tiny"))
      shortProxy.start()
      try {
        val row2 = fetcher(proxy = Some(spBase)).fetchPages(urls)
          .select("fetchMethod").collect().head
        assert(row2.getString(0) == "playwright") // target html is tiny too
      } finally shortProxy.stop(0)
    } finally { target.stop(0); proxy.stop(0) }
  }

  test("SSRF: default validator blocks loopback outright; redirect hops are re-validated") {
    // default validator (no injection): loopback target never reaches a socket
    val urls = Seq(("http://127.0.0.1:9/x", "127.0.0.1")).toDF("urlNorm", "host")
    val blocked = new HttpFetcher(maxRetries = 0, timeoutMs = 500, backoffUnitMs = 0L)
      .fetchPages(urls).select("status", "fetchMethod").collect().head
    assert(blocked.getInt(0) == 0 && blocked.getString(1) == "ssrf_blocked")

    // redirect to a private address: first hop allowed, Location hop rejected
    val (server, base) = newServer()
    server.createContext("/redir", (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Location", "http://10.0.0.9/secret")
      ex.sendResponseHeaders(302, -1)
      ex.close()
    })
    server.start()
    try {
      val r = fetcher().fetchPages(
        Seq((s"$base/redir", "127.0.0.1")).toDF("urlNorm", "host"))
        .select("status", "fetchMethod").collect().head
      assert(r.getInt(0) == 0 && r.getString(1) == "ssrf_blocked")
    } finally server.stop(0)
  }

  test("HtmlToMarkdown: strip scope, ATX headings, 500-char gate arithmetic") {
    val html = "<html><head><style>.x{}</style><script>var a=1;</script></head>" +
      "<nav><a href='/n'>nav</a></nav><body><h2>Sub&amp;Title</h2>" +
      "<ul><li>one</li><li>two</li></ul><p>text</p><footer>foot</footer></body></html>"
    val md = HtmlToMarkdown.convert(html)
    assert(md.contains("## Sub&Title"))
    assert(md.contains("- one") && md.contains("- two"))
    assert(!md.contains("nav") && !md.contains("foot") && !md.contains("var a"))
  }

  test("removeNoise: full NOISE_SELECTORS scope — tags, roles, classes, ids, mintlify, data-search") {
    import graft.sources.HtmlToMarkdown.{convert, removeNoise}
    val html = "<html><body><p>keep me</p>" +
      "<header>site-header</header><noscript>nos-text</noscript>" +
      "<iframe>ifr-text</iframe>" +
      "<div id='table-of-contents'>toc-text</div>" +
      "<div id='mintlify-widget-x'>mint-text</div>" +
      "<div data-search='true'>search-ui</div>" +
      "<div class='page footer'>class-foot</div>" +
      "<div class='header dark'>class-head</div>" +
      "<span role='contentinfo'>legal-fine-print</span>" +
      // decoys: token boundaries and attribute position
      "<div class='data-search-results'>result-list</div>" +
      "<div class='footer-note-like'>note-keep</div></body></html>"
    val cleaned = convert(removeNoise(html))
    assert(cleaned.contains("keep me"))
    for (gone <- Seq("site-header", "nos-text", "ifr-text", "toc-text",
        "mint-text", "search-ui", "class-foot", "class-head",
        "legal-fine-print"))
      assert(!cleaned.contains(gone), s"'$gone' must be noise-removed")
    // a class VALUE containing data-search is not the [data-search]
    // attribute; footer-note-like is not the .footer class token
    assert(cleaned.contains("result-list") && cleaned.contains("note-keep"))
    // the fast path (convert alone) keeps everything markdownify keeps:
    // only script/style/nav/footer TAGS are stripped there
    val fast = convert(html)
    assert(fast.contains("site-header") && fast.contains("toc-text") &&
      fast.contains("class-foot"))
  }

  test("extractMain: all nine CONTENT_SELECTORS, reference priority order") {
    // page.py:134-143: main, article, [role=main], #content, .content,
    // .markdown-body, .docs-content, .documentation, #main-content —
    // first selector whose region holds ≥200 chars wins
    val filler = "<p>" + ("content prose sentence here. " * 10) + "</p>"
    def region(inner: String): String =
      HtmlToMarkdown.extractMain(s"<html><body>$inner<p>post</p></body></html>")

    // each of the four previously-missing selectors is found alone
    for (wrap <- Seq("<div class='markdown-body'>", "<div class='docs-content'>",
        "<section class='documentation'>", "<div id='main-content'>")) {
      val tag = if (wrap.startsWith("<section")) "section" else "div"
      val r = region(s"$wrap$filler<p>tail-mark</p></$tag>")
      assert(r.contains("tail-mark") && !r.contains("post"), s"$wrap: $r")
    }
    // priority: .content beats .markdown-body; article beats both
    val pri = region(s"<div class='markdown-body'>$filler<p>mb</p></div>" +
      s"<div class='content'>$filler<p>ct</p></div>")
    assert(pri.contains("ct") && !pri.contains("mb"))
    val pri2 = region(s"<article>$filler<p>ar</p></article>" +
      s"<div class='content'>$filler<p>ct</p></div>")
    assert(pri2.contains("ar") && !pri2.contains("ct"))
    // class tokens are CSS-style: documentation-footer is NOT .documentation
    val decoy = region(s"<div class='documentation-footer'>$filler<p>df</p></div>")
    assert(decoy.contains("post"), "decoy class must fall through to body")
    // MIN_CONTENT_LENGTH: a sub-200-char region falls through to body
    val small = region("<div class='markdown-body'><p>tiny</p></div>")
    assert(small.contains("post"))
  }

  test("extractMain: nested same-tag elements close on the balanced end tag") {
    // an inner <div> inside <div role=main> must not truncate the region
    // to its first child (lazy (.*?)</div> stopped at the inner close)
    val filler = "<p>" + ("main body prose sentence. " * 10) + "</p>"
    val html = "<html><body><p>outside</p><div role='main'>" +
      s"<div class='hero'>hero</div>$filler<p>tail paragraph</p></div>" +
      "<p>post</p></body></html>"
    val region = HtmlToMarkdown.extractMain(html)
    assert(region.contains("tail paragraph"), s"region truncated: $region")
    assert(!region.contains("post") && !region.contains("outside"))
  }

  test("native level requires 200: markdown-typed error bodies fall through the chain") {
    val (server, base) = newServer()
    server.createContext("/page", (ex: HttpExchange) => {
      val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
      if (accept.contains("text/markdown"))
        handler(500, "text/markdown", "# error body").handle(ex)
      else handler(200, "text/html", bigBody).handle(ex)
    })
    server.start()
    try {
      val row = fetcher().fetchPages(
        Seq((s"$base/page", "127.0.0.1")).toDF("urlNorm", "host"))
        .select("status", "fetchMethod").collect().head
      // the 500+markdown response must NOT terminate the chain
      assert(row.getInt(0) == 200 && row.getString(1) == "http_fast")
    } finally server.stop(0)
  }

  test("bootstrap fetch follows redirects with per-hop validation (robots via 301)") {
    import graft.sources.BootstrapFetch
    val (server, base) = newServer()
    server.createContext("/robots.txt", (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Location", s"$base/real-robots.txt")
      ex.sendResponseHeaders(301, -1); ex.close()
    })
    server.createContext("/real-robots.txt", handler(200, "text/plain",
      "User-agent: *\nDisallow: /hidden/\n"))
    server.start()
    try {
      val hostPort = base.stripPrefix("http://")
      val policies = BootstrapFetch.robotsPolicies(
        Map(hostPort -> s"$base/docs"), validate = allowLoopback)
      assert(policies(hostPort).disallowed == Vector("/hidden/"))
      // a redirect to a BLOCKED target yields no policy (host fully allowed)
      val (server2, base2) = newServer()
      server2.createContext("/robots.txt", (ex: HttpExchange) => {
        ex.getResponseHeaders.add("Location", "http://10.0.0.9/robots.txt")
        ex.sendResponseHeaders(301, -1); ex.close()
      })
      server2.start()
      try {
        val hp2 = base2.stripPrefix("http://")
        assert(BootstrapFetch.robotsPolicies(
          Map(hp2 -> s"$base2/docs"), validate = allowLoopback).isEmpty)
      } finally server2.stop(0)
    } finally server.stop(0)
  }

  test("entity decode order: escaped entities are not double-decoded") {
    assert(HtmlToMarkdown.convert("<p>&amp;lt;div&amp;gt; and &amp; x</p>") ==
      "&lt;div&gt; and & x")
    import graft.operators.Structured
    val b = Structured.parseBlocks("<body><p>&amp;lt;tag&amp;gt;</p></body>")
    assert(b.head.content == "&lt;tag&gt;")
  }

  test("converter registry (PR 3.4): dispatch, capabilities, unknown name, wiring") {
    import graft.sources.{MarkdownConverter, MarkdownConverters}
    assert(MarkdownConverters.available == Seq("markdownify", "readerlm"))
    assert(MarkdownConverters.get().name == "markdownify")
    assert(MarkdownConverters.get("readerlm").supportsTables)
    intercept[IllegalArgumentException](MarkdownConverters.get("pandoc"))
    // a custom converter is threaded through the fast path
    val (server, base) = newServer()
    server.createContext("/big", handler(200, "text/html", bigBody))
    server.start()
    try {
      val shouty = new MarkdownConverter {
        val name = "shouty"; val supportsTables = false; val supportsCodeBlocks = false
        def convert(html: String): String =
          graft.sources.HtmlToMarkdown.convert(html).toUpperCase
      }
      val row = new HttpFetcher(maxRetries = 0, timeoutMs = 3000, backoffUnitMs = 0L,
        validate = allowLoopback, converter = shouty)
        .fetchPages(Seq((s"$base/big", "127.0.0.1")).toDF("urlNorm", "host"))
        .select("fetchMethod", "content").collect().head
      assert(row.getString(0) == "http_fast" && row.getString(1).startsWith("# TITLE"))
    } finally server.stop(0)
  }

  test("S8 render seam: injected RenderClient crawls a JS-only page via the heavy level") {
    // a JS-built DOM the static levels can never see: the fake renderer
    // stands in for a Playwright/CDP client (the documented cluster
    // swap-in, reference page.py:247-284) — no HTTP at all here, the
    // renderer IS the transport for the heavy level
    val rendered =
      "<html><body><main><h1>App</h1><p>client-rendered docs body</p></main>" +
        "<a href='/docs/js-route-1'>r1</a><a href='/docs/js-route-2'>r2</a>" +
        "<img src='/img/image-7.png'/></body></html>"
    val fake = new graft.sources.RenderClient {
      override def render(url: String, get: graft.sources.RenderClient.Get)
          : Option[(Int, String, String)] =
        Some((200, "text/html", rendered))
    }
    val f = new HttpFetcher(maxRetries = 0, timeoutMs = 1000,
      useNativeMarkdown = false, markdownProxyUrl = None,
      useHttpFastPath = false, backoffUnitMs = 0L,
      validate = _ => true, renderer = fake)
    val rows = f.fetchPages(
        Seq(("https://js-only.test/app", "js-only.test")).toDF("urlNorm", "host"))
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("fetchMethod") == "playwright")
    assert(r.getAs[Int]("status") == 200)
    assert(r.getAs[scala.collection.Seq[String]]("links").toSeq ==
      Seq("/docs/js-route-1", "/docs/js-route-2"))
    assert(r.getAs[scala.collection.Seq[String]]("imageRefs").toSeq ==
      Seq("/img/image-7.png"))
    assert(r.getAs[String]("content").contains("client-rendered docs body"))
  }

  test("S8 end-to-end: the fetch chain renders a JS-only page through the REAL CDP client") {
    // same heavy-level walk as above, but with zero injection shortcuts:
    // Spark task → fetch chain → PlaywrightRenderClient → WebSocket →
    // scripted CDP endpoint — the exact wiring a cluster deploy uses
    // (only Chromium itself is substituted)
    val rendered =
      "<html><body><main><h1>App</h1><p>" + ("cdp-rendered docs body. " * 12) +
        "</p></main><a href='/docs/cdp-route-1'>r1</a>" +
        "<img src='/img/cdp-image.png'/></body></html>"
    val browser = new FakeCdpBrowser(html = rendered)
    try {
      val f = new HttpFetcher(maxRetries = 0, timeoutMs = 2000,
        useNativeMarkdown = false, markdownProxyUrl = None,
        useHttpFastPath = false, backoffUnitMs = 0L,
        validate = _ => true,
        renderer = new graft.sources.PlaywrightRenderClient(
          cdpWsUrl = browser.wsUrl, navTimeoutMs = 10000, settleMs = 10,
          validate = _ => true))
      val rows = f.fetchPages(
          Seq(("https://js-only.test/app", "js-only.test")).toDF("urlNorm", "host"))
        .collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("fetchMethod") == "playwright")
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[scala.collection.Seq[String]]("links").toSeq ==
        Seq("/docs/cdp-route-1"))
      assert(r.getAs[scala.collection.Seq[String]]("imageRefs").toSeq ==
        Seq("/img/cdp-image.png"))
      assert(r.getAs[String]("content").contains("cdp-rendered docs body"))
      assert(browser.targetsClosed.get == 1, "the render's tab must be closed")
    } finally browser.close()
  }

  test("href/img quote pairing; hyphenated class names don't match whole-token selectors") {
    // apostrophes are legal in URL paths: href="/docs/don't-panic" must
    // not truncate at the quote-of-the-other-kind
    val rendered = "<html><body><main><p>" + ("body prose. " * 30) + "</p>" +
      // class tokens are whitespace-delimited: sidebar-layout is NOT
      // .sidebar — it must survive the noise-selector removal
      "<div class='sidebar-layout'><p>real article text</p></div></main>" +
      "<a href=\"/docs/don't-panic\">a</a><a href='/docs/b\"quoted'>b</a>" +
      "<img src=\"/img/o'brien.png\"/></body></html>"
    val fake = new graft.sources.RenderClient {
      override def render(url: String, get: graft.sources.RenderClient.Get)
          : Option[(Int, String, String)] = Some((200, "text/html", rendered))
    }
    val f = new HttpFetcher(maxRetries = 0, timeoutMs = 1000,
      useNativeMarkdown = false, markdownProxyUrl = None,
      useHttpFastPath = false, backoffUnitMs = 0L,
      validate = _ => true, renderer = fake)
    val r = f.fetchPages(
      Seq(("https://q.test/app", "q.test")).toDF("urlNorm", "host")).collect().head
    assert(r.getAs[scala.collection.Seq[String]]("links").toSeq ==
      Seq("/docs/don't-panic", "/docs/b\"quoted"))
    assert(r.getAs[scala.collection.Seq[String]]("imageRefs").toSeq ==
      Seq("/img/o'brien.png"))
    assert(r.getAs[String]("content").contains("real article text"),
      "hyphenated class matched a whole-token noise selector")
  }

  test("proxy level: an SSRF-rejected PROXY host is a level miss, not a page verdict") {
    val (server, base) = newServer()
    server.createContext("/docs/direct", handler(200, "text/html", bigBody))
    server.start()
    try {
      // proxy on 10/8 — rejected by the loopback-only validator; the
      // reference treats a dead proxy level as a miss and falls through
      val f = new HttpFetcher(maxRetries = 0, timeoutMs = 2000,
        useNativeMarkdown = false,
        markdownProxyUrl = Some("http://10.99.0.1:9999"),
        useHttpFastPath = true, backoffUnitMs = 0L, validate = allowLoopback)
      val r = f.fetchPages(Seq((s"$base/docs/direct", s"127.0.0.1:${server.getAddress.getPort}"))
        .toDF("urlNorm", "host")).collect().head
      assert(r.getAs[String]("fetchMethod") == "http_fast",
        s"proxy SSRF misattributed: ${r.getAs[String]("fetchMethod")}")
      assert(r.getAs[Int]("status") == 200)
    } finally server.stop(0)
  }

  test("Ssrf: CPython inet_aton numeric host forms never reach DNS") {
    // a null URL (UDF null row, e.g. a left-join miss) admits nothing —
    // and must not NPE inside the per-row gate
    assert(Ssrf.isSsrf(null))
    assert(Ssrf.isSsrfResolving(null))
    // private in disguise → rejected
    assert(Ssrf.isSsrf("http://127.1/x"))
    assert(Ssrf.isSsrf("http://2130706433/x"))      // 127.0.0.1 decimal
    assert(Ssrf.isSsrf("http://0x7f000001/x"))      // hex
    assert(Ssrf.isSsrf("http://017700000001/x"))    // octal
    assert(Ssrf.isSsrf("http://192.168.1/x"))       // 192.168.0.1 short quad
    assert(Ssrf.isSsrf("http://[::1]/x"))
    assert(Ssrf.isSsrf("http://10.0.0.1:8080/x"))   // port stripped
    // numeric-looking but unparseable → rejected without a DNS attempt
    assert(Ssrf.isSsrf("http://999.1.1.1/x"))
    // 5 parts is not an inet_aton form → treated as a NAME (reference lets
    // the gaierror pass) → admitted under the literal-only resolver
    assert(!Ssrf.isSsrf("http://1.2.3.4.5/x"))
    // public literals and names pass (names: literal-only resolver)
    assert(!Ssrf.isSsrf("http://8.8.8.8/x"))
    assert(!Ssrf.isSsrf("http://0x08080808/x"))
    assert(!Ssrf.isSsrf("https://example.com/x"))
    assert(Ssrf.isSsrf("not-a-url"))                // no hostname → reject
  }

  test("nav scope is exactly discovery.py's NAV_SELECTORS, not page.py's noise list") {
    // one anchor inside each reference selector (discovery.py:257-265):
    // nav, aside, .sidebar, .navigation, [role=navigation], .toc, .menu —
    // plus decoys from page.py's NOISE_SELECTORS (.navbar, .breadcrumb,
    // .table-of-contents, #sidebar), which are a content-CLEANUP list the
    // nav cascade must NOT trigger on
    val html = "<html><body>" +
      "<nav><a href='/n-nav'>1</a></nav>" +
      "<aside><a href='/n-aside'>2</a></aside>" +
      "<div class='left sidebar'><a href='/n-sidebar'>3</a></div>" +
      "<div class='navigation'><a href='/n-navigation'>4</a></div>" +
      "<span role='navigation'><a href='/n-role'>5</a></span>" +
      "<div class='toc'><a href='/n-toc'>6</a></div>" +
      "<ul class='menu'><a href='/n-menu'>7</a></ul>" +
      "<div class='navbar'><a href='/x-navbar'>d1</a></div>" +
      "<div class='breadcrumb'><a href='/x-breadcrumb'>d2</a></div>" +
      "<div class='table-of-contents'><a href='/x-toc-long'>d3</a></div>" +
      "<div id='sidebar'><a href='/x-id-sidebar'>d4</a></div>" +
      "<div class='main-menu'><a href='/x-hyphen-menu'>d5</a></div>" +
      "<p>body</p></body></html>"
    val fake = new graft.sources.RenderClient {
      override def render(url: String, get: graft.sources.RenderClient.Get)
          : Option[(Int, String, String)] = Some((200, "text/html", html))
    }
    val f = new HttpFetcher(maxRetries = 0, timeoutMs = 1000,
      useNativeMarkdown = false, markdownProxyUrl = None,
      useHttpFastPath = false, backoffUnitMs = 0L,
      validate = _ => true, renderer = fake)
    val r = f.fetchPages(
        Seq(("https://nav.test/docs", "nav.test")).toDF("urlNorm", "host"))
      .collect().head
    assert(r.getAs[scala.collection.Seq[String]]("navLinks").toSet ==
      Set("/n-nav", "/n-aside", "/n-sidebar", "/n-navigation", "/n-role",
        "/n-toc", "/n-menu"))
    // decoys still count as ordinary page links, just not nav-scoped
    val links = r.getAs[scala.collection.Seq[String]]("links").toSet
    assert(links.contains("/x-navbar") && links.contains("/x-id-sidebar"))
  }

  test("renderer routing: BFS discovery never renders, nav-parse always renders") {
    // reference routing (discovery.py): BFS levels are plain httpx GETs
    // (:172-211, no Playwright); try_nav_parse is ALWAYS Playwright
    // (:277-284). So with a browser injected: discovery must keep the
    // static transport; nav-parse must reach the renderer even though the
    // static http_fast level would win on this page.
    val staticBody =
      "<html><body><h1>Static</h1><p>" + ("static prose sentence. " * 30) +
        "</p><nav><a href='/static-nav'>s</a></nav>" +
        "<a href='/static-child'>c</a></body></html>"
    val renderedBody =
      "<html><body><h1>App</h1><nav><a href='/js-nav'>j</a></nav>" +
        "<a href='/js-child'>jc</a></body></html>"
    val (server, base) = newServer()
    server.createContext("/seed", handler(200, "text/html", staticBody))
    server.start()
    // witness is the OUTPUT, not shared state: task closures are
    // serialized even in local mode, so a captured counter would count on
    // the deserialized copy — the rendered DOM's distinct links are the
    // serialization-safe proof of which transport ran
    val browserBacked = new graft.sources.RenderClient {
      override def render(url: String, get: graft.sources.RenderClient.Get)
          : Option[(Int, String, String)] =
        Some((200, "text/html", renderedBody))
    }
    try {
      val f = new HttpFetcher(maxRetries = 0, timeoutMs = 3000,
        useNativeMarkdown = true, markdownProxyUrl = None,
        useHttpFastPath = true, backoffUnitMs = 0L,
        validate = allowLoopback, renderer = browserBacked)
      val urls = Seq((s"$base/seed", "127.0.0.1")).toDF("urlNorm", "host")

      // BFS discovery: static chain wins at http_fast; renderer untouched
      val disc = f.fetchPagesForDiscovery(urls).collect().head
      assert(disc.getAs[String]("fetchMethod") == "http_fast")
      assert(disc.getAs[scala.collection.Seq[String]]("navLinks").toSeq ==
        Seq("/static-nav"))

      // nav-parse: the renderer's DOM, even though http_fast would win
      val nav = f.fetchPagesForNavParse(urls).collect().head
      assert(nav.getAs[String]("fetchMethod") == "playwright")
      assert(nav.getAs[scala.collection.Seq[String]]("navLinks").toSeq ==
        Seq("/js-nav"))
      assert(nav.getAs[scala.collection.Seq[String]]("links").toSet ==
        Set("/js-nav", "/js-child"))

      // scrape chain unchanged: http_fast still shadows the heavy level,
      // and its navLinks stay the static body's (no render happened)
      val page = f.fetchPages(urls).collect().head
      assert(page.getAs[String]("fetchMethod") == "http_fast")
      assert(page.getAs[scala.collection.Seq[String]]("navLinks").toSeq ==
        Seq("/static-nav"))
    } finally server.stop(0)
  }

  test("BFS discovery falling through to the heavy level stays a static GET") {
    // a sub-500-char page misses the http_fast gate; during DISCOVERY the
    // heavy level must degrade to the static transport (reference BFS never
    // renders), not consult the injected browser
    val tiny = "<html><body>tiny<a href='/bfs-child'>c</a></body></html>"
    val (server, base) = newServer()
    server.createContext("/tiny", handler(200, "text/html", tiny))
    server.start()
    val browserBacked = new graft.sources.RenderClient {
      override def render(url: String, get: graft.sources.RenderClient.Get)
          : Option[(Int, String, String)] =
        Some((200, "text/html", "<html><a href='/js-only'>x</a></html>"))
    }
    try {
      val f = new HttpFetcher(maxRetries = 0, timeoutMs = 3000,
        useNativeMarkdown = false, markdownProxyUrl = None,
        useHttpFastPath = true, backoffUnitMs = 0L,
        validate = allowLoopback, renderer = browserBacked)
      val urls = Seq((s"$base/tiny", "127.0.0.1")).toDF("urlNorm", "host")
      val disc = f.fetchPagesForDiscovery(urls).collect().head
      assert(disc.getAs[String]("fetchMethod") == "playwright") // heavy level…
      // …but the STATIC body's links — a render would have shown /js-only
      assert(disc.getAs[scala.collection.Seq[String]]("links").toSeq ==
        Seq("/bfs-child"))
    } finally server.stop(0)
  }
}
