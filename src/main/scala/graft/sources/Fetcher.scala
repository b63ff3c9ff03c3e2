package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** F4/S1-S8 — the fetch stage. One operator, pluggable transport.
  *
  * Contract: `fetchPages(urls)` takes a df carrying (`urlNorm`, `host`) and
  * returns one row per input URL with the page observation columns:
  * (urlNorm, host, status, contentType, content, links, imageRefs,
  * fetchMethod, loadMs). Missing pages → status 0.
  */
trait Fetcher extends Serializable {
  def fetchPages(urls: DataFrame): DataFrame

  /** Discovery-phase fetch: link extraction needs HTML, so transports that
    * negotiate markdown (S5/S6) must NOT here — the reference's discovery
    * uses plain GETs (`discovery.py:96-118`), separate from the scrape
    * chain. Default: same as fetchPages (fixture transports serve HTML). */
  def fetchPagesForDiscovery(urls: DataFrame): DataFrame = fetchPages(urls)

  /** Nav-parse fetch (cascade strategy 2): the reference renders this page
    * with Playwright UNCONDITIONALLY (`discovery.py:277-284` — "Useful for
    * JS-rendered navigation that httpx can't see"), so transports carrying
    * a browser-backed [[RenderClient]] must route it there even when a
    * static level would otherwise win. Default: same as discovery (fixture
    * transports carry navLinks directly). */
  def fetchPagesForNavParse(urls: DataFrame): DataFrame =
    fetchPagesForDiscovery(urls)
}

object Fetcher {
  val pageObservationSchema: StructType = StructType(Seq(
    StructField("urlNorm", StringType),
    StructField("host", StringType),
    StructField("status", IntegerType),
    StructField("contentType", StringType),
    StructField("content", StringType),
    StructField("links", ArrayType(StringType)),
    StructField("navLinks", ArrayType(StringType)),
    StructField("imageRefs", ArrayType(StringType)),
    StructField("fetchMethod", StringType),
    StructField("loadMs", LongType)))
}

/** Deterministic fixture transport: "fetching" is a join against the
  * synthetic web-graph table — the Spark-idiomatic shape (at 10^10 scale
  * both sides are bucketed by host so the join co-locates; in the sandbox
  * AQE broadcasts the dequeued batch).
  */
final class FixtureFetcher(webGraph: DataFrame) extends Fetcher {

  override def fetchPages(urls: DataFrame): DataFrame = {
    val pages = webGraph.select(
      col("url").as("__wg_url"), col("status"), col("contentType"),
      col("content"), col("links"), col("navLinks"), col("imageRefs"),
      col("fetchMethod"), col("loadMs"))
    val in = urls.select("urlNorm", "host")
    in.join(pages, in("urlNorm") === pages("__wg_url"), "left_outer")
      .drop("__wg_url")
      .withColumn("status", coalesce(col("status"), lit(0)))
      .withColumn("contentType", coalesce(col("contentType"), lit("")))
      .withColumn("content", coalesce(col("content"), lit("")))
      .withColumn("fetchMethod", coalesce(col("fetchMethod"), lit("none")))
      .withColumn("loadMs", coalesce(col("loadMs"), lit(0L)))
  }
}

/** THE manual-redirect GET — shared by both fetch paths (the per-partition
  * task fetcher and the driver-side bootstrap). ≤ 5 hops, EVERY hop target
  * re-validated (F6). One implementation on purpose: this loop is
  * security-sensitive, and a fix to hop counting, Location resolution, or
  * the SSRF re-check applied to one hand-rolled copy would silently weaken
  * the other. Returns None = SSRF-rejected at some hop; throws IOException
  * on transport errors and over-long chains — callers choose their policy
  * (fetch levels retry / fall through; bootstrap treats as absent). */
private[graft] object RedirectGet {
  def send[T](client: java.net.http.HttpClient, url0: String, timeoutMs: Long,
      validate: String => Boolean, headers: Seq[(String, String)],
      handler: java.net.http.HttpResponse.BodyHandler[T])
      : Option[java.net.http.HttpResponse[T]] = {
    var url = url0
    var hops = 0
    while (hops <= 5) {
      if (!validate(url)) return None
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs)).GET()
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(), handler)
      val st = resp.statusCode()
      val loc = resp.headers().firstValue("location").orElse("")
      if (st >= 300 && st < 400 && loc.nonEmpty) {
        url = java.net.URI.create(url).resolve(loc).toString
        hops += 1
      } else return Some(resp)
    }
    throw new java.io.IOException(s"redirect chain too long for $url0")
  }
}

/** Minimal HTML→Markdown conversion — the `markdownify(heading_style=ATX,
  * strip=[script, style, nav, footer])` analog used by the HTTP fast path
  * and heavy level (reference `page.py:39-45`, `markdown.py:76-78`):
  * noise-subtree removal, ATX headings, list bullets, block-level line
  * breaks, tag strip, basic entity decode, blank-line collapse.
  * Deterministic and dependency-free. */
object HtmlToMarkdown {
  // markdownify's strip list ONLY (page.py:39-45: strip=["script",
  // "style", "nav", "footer"]) — the http_fast path converts the RAW
  // body; NOISE_SELECTORS belong to the heavy level's DOM pre-clean
  // ([[removeNoise]]), NOT here: applying them on the fast path would
  // drop sidebar/header text the reference's fast-path markdown keeps,
  // diverging content hashes (J2) and the ≥500-char gate
  private val Dropped = java.util.regex.Pattern.compile(
    "(?is)<(script|style|nav|footer)\\b[^>]*>.*?</\\1>")

  // the FULL NOISE_SELECTORS analog (page.py:101-130), heavy level only:
  // tag scope (script/style/noscript/iframe/nav/footer/header), role
  // scope, class-TOKEN scope (.sidebar … .footer/.header/.search-bar),
  // id scope (#sidebar/#navbar/#table-of-contents), [id*='mintlify']
  // substring scope, [data-search] attribute scope. Non-greedy close
  // match — nested same-tag content is the DOM renderer's job, out of
  // scope without a browser.
  private val NoiseTags = java.util.regex.Pattern.compile(
    "(?is)<(script|style|noscript|iframe|nav|footer|header)\\b[^>]*>.*?</\\1>")
  private val NoiseClassed = java.util.regex.Pattern.compile(
    "(?is)<([a-z]+)\\b[^>]*(?:role=[\"'](?:banner|contentinfo|navigation)[\"']|" +
      "class=[\"'][^\"']*(?<![\\w-])(?:sidebar|navbar|breadcrumb|cookie-banner|" +
      "table-of-contents|footer|header|prev-next-links|pagination-nav|" +
      "edit-this-page|last-updated|theme-toggle|search-bar)(?![\\w-])[^\"']*[\"']|" +
      "id=[\"'](?:sidebar|navbar|table-of-contents)[\"']|" +
      "id=[\"'][^\"']*mintlify[^\"']*[\"']|" +
      "\\sdata-search\\b)[^>]*>.*?</\\1>") // \s = attribute position, not a class-value substring

  /** Heavy-level DOM pre-clean — `_remove_noise` (page.py:181-199),
    * applied BEFORE content extraction and ONLY on the rendered path,
    * exactly like the reference (`get_html`: goto → _remove_noise →
    * _extract_content; the fast path never runs it). */
  def removeNoise(html: String): String = {
    var s = NoiseTags.matcher(stripComments(html)).replaceAll(" ")
    s = NoiseClassed.matcher(s).replaceAll(" ")
    s
  }

  /** Comments are dropped whole, FIRST: the reference's BeautifulSoup never
    * sees commented-out markup, but a raw regex scan would — a comment
    * containing `</main>` would close a region early, and the generic
    * `<[^>]*>` strip stops at the first `>` INSIDE a comment, leaking the
    * remainder as text (`<!-- a > b -->` → " b -->").
    *
    * Comment grammar is HTML5 (§13.2.5): `<!-->` / `<!--->` are complete
    * (abruptly-closed) empty comments, `--!>` also ends a comment, and an
    * unterminated `<!--` comments out the rest of the document. Matching
    * only `-->` would treat a well-formed page's first `<!-->` as
    * unterminated and silently truncate everything after it. (Old CPython
    * html.parser instead leaks these malformed forms as literal text —
    * HTML5, which newer parsers follow, is the behavior a browser-rendered
    * DOM would give the reference.)
    */
  private[graft] def stripComments(html: String): String = {
    if (html.indexOf("<!--") < 0) return html // hot path: most pages, and all re-strips
    val s = html.replaceAll("(?s)<!---?>|<!--.*?--!?>", " ")
    val open = s.indexOf("<!--")
    if (open >= 0) s.substring(0, open) else s
  }

  def convert(html: String): String = {
    var s = Dropped.matcher(stripComments(html)).replaceAll(" ")
    (1 to 6).foreach { i =>
      s = s.replaceAll(s"(?is)<h$i[^>]*>", "\n\n" + ("#" * i) + " ")
    }
    s = s.replaceAll("(?is)</h[1-6]\\s*>", "\n\n")
    // \b is load-bearing: without it `<li` matches every `<link …>` in
    // <head>, emitting a bogus bullet per stylesheet/preload/icon tag —
    // corrupting content hashes and inflating the http_fast ≥500-char
    // gate with boilerplate noise (markdownify bullets only real <li>)
    s = s.replaceAll("(?is)<li\\b[^>]*>", "\n- ")
    s = s.replaceAll("(?is)</?(p|div|section|article|main|table|tr|ul|ol|blockquote|pre)\\b[^>]*>", "\n")
    s = s.replaceAll("(?is)<br[^>]*>", "\n")
    s = s.replaceAll("(?s)<[^>]*>", "")
    // &amp; decoded LAST: decoding it first would double-decode escaped
    // entities (&amp;lt; is the literal text "&lt;", not "<")
    s = s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
      .replace("&amp;", "&")
    s = s.replaceAll("[ \\t]+", " ").replaceAll(" ?\\n ?", "\n")
    s = s.replaceAll("\\n{3,}", "\n\n")
    s.trim
  }

  /** Main-content extraction analog of the heavy level's CONTENT_SELECTORS
    * priority list — ALL NINE of `page.py:134-143`, same order: main,
    * article, [role=main], #content, .content, .markdown-body,
    * .docs-content, .documentation, #main-content — first with ≥200 chars
    * (MIN_CONTENT_LENGTH) of inner HTML, else the whole body. Class
    * selectors match whitespace-delimited class TOKENS like CSS. Static
    * regex scope — no DOM/JS rendering exists in this container. */
  def extractMain(rawHtml: String): String = {
    // comment-masked scan: `<!-- </main> -->` must not close a region
    val html = stripComments(rawHtml)
    // regions close on the DEPTH-BALANCED end tag: a lazy (.*?)</tag>
    // stops at the first NESTED close (e.g. an inner <div> of
    // <div role="main">) and truncates the region to its first child
    def classPat(token: String): String =
      s"(?is)<([a-z]+)\\b[^>]*\\bclass=[\"'][^\"']*(?<![\\w-])$token(?![\\w-])[^\"']*[\"'][^>]*>"
    val pats = Seq(
      "(?is)<(main)\\b[^>]*>",
      "(?is)<(article)\\b[^>]*>",
      "(?is)<([a-z]+)\\b[^>]*\\brole=[\"']main[\"'][^>]*>",
      "(?is)<([a-z]+)\\b[^>]*\\bid=[\"']content[\"'][^>]*>",
      classPat("content"),
      classPat("markdown-body"),
      classPat("docs-content"),
      classPat("documentation"),
      "(?is)<([a-z]+)\\b[^>]*\\bid=[\"']main-content[\"'][^>]*>")
    pats.view.flatMap { p =>
      val m = java.util.regex.Pattern.compile(p).matcher(html)
      if (m.find()) {
        val inner = balancedInner(html, m.end(),
          m.group(1).toLowerCase(java.util.Locale.ROOT))
        if (inner.length >= 200) Some(inner) else None
      } else None
    }.headOption.getOrElse {
      val m = java.util.regex.Pattern.compile("(?is)<(body)\\b[^>]*>").matcher(html)
      if (m.find()) balancedInner(html, m.end(), "body") else html
    }
  }

  /** Inner HTML from `from` to the close tag balancing the already-matched
    * open tag (depth-tracked; unclosed → to end, lenient DOM-recovery).
    * Expects comment-stripped input (callers go through
    * [[stripComments]]). */
  private[graft] def balancedInner(html: String, from: Int, tag: String): String = {
    val p = java.util.regex.Pattern.compile(s"(?is)<$tag\\b[^>]*>|</$tag\\s*>")
    val m = p.matcher(html)
    var depth = 1
    var pos = from
    while (m.find(pos)) {
      if (m.group().startsWith("</")) depth -= 1 else depth += 1
      if (depth == 0) return html.substring(from, m.start())
      pos = m.end()
    }
    html.substring(from)
  }
}

/** PR 3.4 analog — pluggable HTML→Markdown converter registry (reference
  * `src/scraper/converters/__init__.py`: a Protocol + name registry with
  * markdownify and readerlm backends). */
trait MarkdownConverter extends Serializable {
  def name: String
  def supportsTables: Boolean
  def supportsCodeBlocks: Boolean
  def convert(html: String): String
}

object MarkdownConverters {
  /** The markdownify backend (`markdownify_converter.py`): the default. */
  object Markdownify extends MarkdownConverter {
    val name = "markdownify"
    val supportsTables = true
    val supportsCodeBlocks = true
    def convert(html: String): String = HtmlToMarkdown.convert(html)
  }

  /** ReaderLM backend STUB — the reference's `readerlm_converter.py` runs
    * an HTML→markdown language model; no model ships in this container, so
    * the registry slot exists (plumbing real, conversion delegated) and is
    * clearly marked, like the video-decoder stub. */
  object ReaderLMStub extends MarkdownConverter {
    val name = "readerlm"
    val supportsTables = true
    val supportsCodeBlocks = true
    def convert(html: String): String = Markdownify.convert(html)
  }

  private val registry: Map[String, MarkdownConverter] =
    Seq(Markdownify, ReaderLMStub).map(c => c.name -> c).toMap

  def get(name: String = "markdownify"): MarkdownConverter =
    registry.getOrElse(name,
      throw new IllegalArgumentException(
        s"Unknown converter: $name. Available: ${available.mkString(",")}"))
  def available: Seq[String] = registry.keys.toSeq.sorted
}

/** S8 seam — the rendered-DOM client the heavy level delegates to
  * (reference: Playwright page render + 7-selector DOM walk,
  * `src/scraper/page.py:247-284`). The default is the static GET below (no
  * browser ships in this container — admitted scope limit); a cluster
  * deployment swaps in a Playwright/CDP-backed implementation without
  * touching the chain: same per-request SSRF-validated `get`, same retry /
  * backoff envelope around it. */
trait RenderClient extends Serializable {
  /** Render `url` to its final DOM HTML. `get` is the chain's pooled,
    * SSRF-validated transport (one GET with manual redirect following);
    * implementations that drive their own browser MUST still consult it —
    * or the injected validator — per navigation to keep F6 intact.
    * Returns (status, contentType, html); None = SSRF-rejected. */
  def render(url: String, get: RenderClient.Get): Option[(Int, String, String)]
}

object RenderClient {
  type Get = (String, Seq[(String, String)]) => Option[(Int, String, String)]

  /** Default: plain validated GET — the rendered DOM equals the static
    * body. JS-built content is invisible at this level (COVERAGE.md S8). */
  object Static extends RenderClient {
    override def render(url: String, get: Get): Option[(Int, String, String)] =
      get(url, HtmlHeaders)
  }

  /** Headers of the plain HTML GET — the http_fast level and [[Static]]
    * send the same request, which is what lets the heavy level reuse the
    * fast path's answer (see [[HttpFetcher]]). */
  private[sources] val HtmlHeaders: Seq[(String, String)] = Seq(
    "Accept" -> "text/html,*/*;q=0.8", // no xhtml: every gate downstream requires text/html
    "User-Agent" -> "graft/0.1 (documentation crawler)")
}

/** Real transport for cluster use — the reference's 5-level fetch fallback
  * chain (F4/S5-S8, `runner.py:414-525`), re-expressed per-row inside one
  * distributed operator. Level order and gates:
  *
  *   1. cache      — handled upstream by the engine's warm-cache join (S9)
  *   2. native     — GET with `Accept: text/markdown` content negotiation;
  *                   wins iff the response content-type is text/markdown
  *                   (`page.py:53-75`)
  *   3. proxy      — GET `{proxyUrl}/{url}`; wins iff 200 and > 100 chars
  *                   (`page.py:78-97`; off by default like the reference's
  *                   `use_markdown_proxy = False`, `models.py:32`)
  *   4. http_fast  — plain GET; wins iff 200 text/html and the markdown
  *                   conversion is ≥ 500 chars (`page.py:15-50`)
  *   5. playwright-analog ("heavy") — terminal level with
  *                   MAX_SCRAPE_RETRIES=2 retries and 2^attempt backoff
  *                   (`runner.py:491-513`); static main-content extraction
  *                   stands in for the rendered DOM (no browser ships in
  *                   this container — admitted scope limit)
  *
  * One response per question: a row keeps the last complete answer for its
  * URL, and a later level reuses it instead of sending a GET that would ask
  * the same server the same question —
  *   - http_fast reuses the native level's answer when it is 200 and not
  *     text/markdown (the server ignored the negotiation);
  *   - the heavy level with [[RenderClient.Static]], whose GET is
  *     byte-identical to the fast path's, reuses the fast path's answer
  *     (fresh or reused from native) unless it is 5xx or 429.
  * Everything else sends a fresh request: after a transport exception or
  * timeout, an SSRF rejection, a non-200 native answer, at the proxy level,
  * on each heavy-level retry, and for any non-Static renderer (a browser
  * must still render). From a server that answers a repeated question the
  * same way, every row's page is unchanged and only `loadMs` shrinks. An
  * HTML page costs one request, a 404 two, a 5xx three.
  *
  * SSRF (F6) is re-validated on EVERY request of every level including
  * each redirect hop (`page.py:25,58,85,268`; redirects are followed
  * manually so Location targets cannot bypass the check). Per-partition
  * pooled `java.net.http.HttpClient` (PagePool analog, ADR-008).
  * `fetchMethod` carries the winning level for the A2 histogram, matching
  * the reference's pages_native_md/pages_proxy_md/pages_http_fast/
  * pages_playwright counters.
  */
final class HttpFetcher(
    maxRetries: Int = 2,
    timeoutMs: Int = 8000,
    useNativeMarkdown: Boolean = true,
    markdownProxyUrl: Option[String] = None,
    useHttpFastPath: Boolean = true,
    /** ms unit for the heavy level's 2^attempt backoff; 0 in tests. */
    backoffUnitMs: Long = 1000L,
    /** SSRF admission for every request incl. redirect hops. The default
      * RESOLVES named hosts through DNS before the private-range check
      * (reference `validate_url_not_ssrf` → `socket.gethostbyname` — a name
      * pointing at 10/8 or 169.254/16 is rejected); tests inject a
      * permissive validator to reach the loopback fixture server. */
    validate: String => Boolean = u => !graft.operators.Ssrf.isSsrfResolving(u),
    /** HTML→Markdown backend (PR 3.4 registry; `_converter.convert` in
      * runner.py:418,516). */
    converter: MarkdownConverter = MarkdownConverters.Markdownify,
    /** S8 heavy-level renderer (static GET by default; a cluster deploy
      * injects a browser-backed [[RenderClient]]). */
    renderer: RenderClient = RenderClient.Static) extends Fetcher {
  import Fetcher.pageObservationSchema

  /** Discovery must see HTML (links): run the chain without the markdown
    * levels — a host honoring `Accept: text/markdown` would otherwise
    * return linkless markdown during BFS and silently stop discovery at
    * its seed while the fetch phase still reported ok pages. The renderer
    * is forced Static too: the reference's BFS is plain httpx GETs
    * (`discovery.py:172-211`, no Playwright) — an injected browser must
    * not turn every BFS page into a render. */
  override def fetchPagesForDiscovery(urls: DataFrame): DataFrame =
    if (!useNativeMarkdown && markdownProxyUrl.isEmpty &&
        (renderer eq RenderClient.Static)) fetchPages(urls)
    else new HttpFetcher(maxRetries, timeoutMs,
      useNativeMarkdown = false, markdownProxyUrl = None,
      useHttpFastPath = useHttpFastPath, backoffUnitMs = backoffUnitMs,
      validate = validate, converter = converter,
      renderer = RenderClient.Static).fetchPages(urls)

  /** Nav-parse fetch: straight to the heavy level so the injected renderer
    * sees the seed page — the reference's `try_nav_parse` drives Playwright
    * unconditionally (`discovery.py:277-284`), it never falls back to the
    * static transport; with the Static default this is the same plain GET
    * as before, so sandbox behavior is unchanged. */
  override def fetchPagesForNavParse(urls: DataFrame): DataFrame =
    new HttpFetcher(maxRetries, timeoutMs,
      useNativeMarkdown = false, markdownProxyUrl = None,
      useHttpFastPath = false, backoffUnitMs = backoffUnitMs,
      validate = validate, converter = converter,
      renderer = renderer).fetchPages(urls)

  override def fetchPages(urls: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(pageObservationSchema)
    // locals only in the task closure (no `this` capture)
    val retries = maxRetries
    val tmoutMs = timeoutMs
    val useNative = useNativeMarkdown
    val proxyUrl = markdownProxyUrl
    val useFast = useHttpFastPath
    val backoffMs = backoffUnitMs
    val admit = validate
    val conv = converter
    val rend = renderer
    val staticRender = renderer eq RenderClient.Static
    urls.select("urlNorm", "host").mapPartitions { it =>
      // lazy per-partition client (O11 pool analog)
      lazy val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(tmoutMs.toLong))
        .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
        .build()
      // quote ALTERNATION, not a [\"'] class: the value must close with
      // the quote that opened it (apostrophes are legal in URL paths)
      val hrefRe = java.util.regex.Pattern.compile(
        "<a\\s[^>]*href=(?:\"([^\"]+)\"|'([^']+)')", java.util.regex.Pattern.CASE_INSENSITIVE)
      val imgRe = java.util.regex.Pattern.compile(
        "<img\\s[^>]*src=(?:\"([^\"]+)\"|'([^']+)')", java.util.regex.Pattern.CASE_INSENSITIVE)
      // static approximation of the reference's NAV DISCOVERY selectors —
      // exactly discovery.py:257-265 NAV_SELECTORS ("nav a", "aside a",
      // ".sidebar a", ".navigation a", '[role="navigation"] a', ".toc a",
      // ".menu a"): tag scope for nav/aside, CLASS-TOKEN scope for the
      // class selectors (CSS .sidebar matches a whitespace-delimited class
      // token, hence the \w- lookarounds), role=navigation for the
      // attribute selector. page.py's NOISE_SELECTORS (navbar, breadcrumb,
      // table-of-contents, #ids) are a DIFFERENT list used for content
      // CLEANUP, not nav discovery — matching them here over-triggered the
      // nav cascade vs the reference. Element-level regex scope, no DOM.
      val navRe = java.util.regex.Pattern.compile(
        "<(nav|aside)\\b[^>]*>(.*?)</\\1>|" +
          "<([a-z]+)\\b[^>]*(?:role=[\"']navigation[\"']|" +
          "class=[\"'][^\"']*(?<![\\w-])(?:sidebar|navigation|toc|menu)(?![\\w-])[^\"']*[\"'])[^>]*>(.*?)</\\3>",
        java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)

      /** One validated GET via the SHARED redirect loop ([[RedirectGet]]).
        * None = SSRF-rejected. Throws on transport errors and over-long
        * chains — levels treat both like any other failed request
        * (retry / fall through), instead of the old Some((0,"","""))
        * sentinel the heavy level mistook for a render. */
      def get(url0: String, headers: Seq[(String, String)]): Option[(Int, String, String)] =
        RedirectGet.send(client, url0, tmoutMs.toLong, admit, headers,
            java.net.http.HttpResponse.BodyHandlers.ofString())
          .map(r => (r.statusCode(),
            r.headers().firstValue("content-type").orElse(""), r.body()))

      def anchors(p: java.util.regex.Pattern, s: String, group: Int): Seq[String] = {
        val m = p.matcher(s)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) {
          // quote-alternation patterns: the matched value sits in `group`
          // (double-quoted) or `group + 1` (single-quoted)
          val v = if (m.group(group) != null) m.group(group)
            else m.group(group + 1)
          if (v != null) buf += v
        }
        buf.toSeq
      }

      it.map { row =>
        val url = row.getString(0); val host = row.getString(1)
        val t0 = System.nanoTime()
        var status = 0; var ctype = ""; var content = ""; var rawHtml = ""
        var method = "none"
        var ssrfBlocked = false
        // one-response rule (class doc): the native level's 200 answer
        // stands in for the fast path's GET, and the fast path's answer
        // for the Static heavy level's byte-identical GET
        var nativeAnswer: Option[(Int, String, String)] = None
        var fastAnswer: Option[(Int, String, String)] = None

        // level 2: native markdown negotiation
        if (useNative && method == "none") {
          try get(url, Seq(
            "Accept" -> "text/markdown, text/html;q=0.9, */*;q=0.8",
            "User-Agent" -> "graft/0.1 (documentation crawler)")) match {
            case None => ssrfBlocked = true
            // 200 gate is a deliberate hardening over the reference
            // (page.py:53-75 checks only content-type): a markdown-typed
            // ERROR body would otherwise terminate the chain and lose a
            // page the fast/heavy levels could fetch
            case Some((st, ct, body)) if st == 200 && ct.contains("text/markdown") =>
              status = st; ctype = ct; content = body; method = "native"
            case Some(answer) if answer._1 == 200 => nativeAnswer = Some(answer)
            case _ => ()
          } catch { case _: Exception => () }
        }
        // level 3: markdown proxy
        if (proxyUrl.isDefined && method == "none" && !ssrfBlocked) {
          try get(s"${proxyUrl.get.stripSuffix("/")}/$url",
            Seq("User-Agent" -> "graft/0.1 (documentation crawler)")) match {
            // None here rejects the COMPOSED PROXY URL (often an internal
            // host), not the target — a level miss that falls through to
            // the direct levels (reference page.py:78-97 treats proxy
            // failure as a miss), NOT an ssrf_blocked verdict on the page
            case None => ()
            case Some((st, ct, body)) if st == 200 && body.length > 100 =>
              status = st; ctype = "text/markdown"; content = body; method = "proxy"
            case _ => ()
          } catch { case _: Exception => () }
        }
        // level 4: HTTP fast path (plain GET + markdown quality gate)
        if (useFast && method == "none" && !ssrfBlocked) {
          try nativeAnswer.orElse(get(url, RenderClient.HtmlHeaders)) match {
            case None => ssrfBlocked = true
            case Some(answer @ (st, ct, body)) =>
              fastAnswer = Some(answer)
              if (st == 200 && ct.contains("text/html")) {
                val md = conv.convert(body)
                if (md.length >= 500) {
                  status = st; ctype = ct; content = md; rawHtml = body; method = "http_fast"
                }
              }
          } catch { case _: Exception => () }
        }
        // level 5: heavy terminal level (playwright analog) with retries;
        // a 5xx/429 fast answer is asked again (the server may recover)
        if (method == "none" && !ssrfBlocked) {
          val reuse = if (staticRender)
            fastAnswer.filter { case (st, _, _) => st < 500 && st != 429 } else None
          var attempt = 0
          var done = false
          while (!done && attempt <= retries) {
            try {
              // S8 render seam: Static = the validated GET; a browser-
              // backed client returns the JS-rendered DOM instead
              reuse.orElse(rend.render(url, get)) match {
                case None => ssrfBlocked = true; done = true
                case Some((st, ct, body)) =>
                  status = st; ctype = ct; rawHtml = if (ct.contains("text/html")) body else ""
                  content =
                    if (ct.contains("text/html"))
                      // reference heavy walk (page.py get_html): goto →
                      // _remove_noise (full NOISE_SELECTORS) →
                      // _extract_content (CONTENT_SELECTORS) → convert;
                      // the fast path above converts the RAW body instead
                      conv.convert(HtmlToMarkdown.extractMain(
                        HtmlToMarkdown.removeNoise(body)))
                    else body
                  method = "playwright"
                  done = true
              }
            } catch {
              case _: Exception =>
                attempt += 1
                if (attempt <= retries && backoffMs > 0)
                  Thread.sleep(backoffMs << (attempt - 1)) // 2^attempt backoff
            }
          }
        }
        if (ssrfBlocked) { status = 0; ctype = ""; content = ""; method = "ssrf_blocked" }

        val isHtml = rawHtml.nonEmpty
        val links = if (isHtml) anchors(hrefRe, rawHtml, 1) else Seq.empty[String]
        // nav-scoped hrefs: anchors inside <nav>/<aside> blocks (static
        // approximation of the reference's rendered nav selectors)
        val navLinks = if (isHtml) {
          val nm = navRe.matcher(rawHtml)
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (nm.find()) {
            val inner = if (nm.group(2) != null) nm.group(2) else nm.group(4)
            buf ++= anchors(hrefRe, inner, 1)
          }
          buf.toSeq
        } else Seq.empty[String]
        // image refs (the graft payload): <img src> ids feed the engine's
        // J7 explode+join against the image table
        val imageRefs = if (isHtml) anchors(imgRe, rawHtml, 1) else Seq.empty[String]
        Row(url, host, status, ctype, content, links, navLinks, imageRefs,
          method, (System.nanoTime() - t0) / 1000000L)
      }
    }(enc)
  }
}
