package crawlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.array

import graft.epoch.CrawlEngine
import graft.fixtures.FixtureGen
import graft.model.CrawlConfig
import graft.sim.ReferenceSim
import graft.sources.{BootstrapFetch, Fetcher, FixtureFetcher, HttpFetcher, TableIO}

/** One benchmark workload: a fixture site, the crawl configuration, the
  * reference results the crawl must reproduce, and a factory for a fresh
  * engine over a given TableIO.
  *
  * The seed varies the site inside a stated band so a later claim can be
  * checked on a site it was not tuned on; the engine only ever sees the
  * generated site.
  */
final case class WorkloadSpec(name: String, params: FixtureGen.Params, cfg: CrawlConfig,
    textOnly: Boolean, http: Boolean, delayShift: Int)

object WorkloadSpec {
  val Names: Seq[String] = Seq("crawl_large", "crawl_http")

  def apply(name: String, seed: Long): WorkloadSpec = name match {
    // Few epochs of thousands of rows each, text only: admission, ranking,
    // dequeue, dedup shuffles, compaction and commit bytes carry the cost.
    // The BFS host's index page links every page (branching = pages), so
    // discovery is two levels deep, and the 1800-URL politeness budget
    // dequeues the whole frontier in one fetch epoch, which compacts it.
    // The seed sets pagesPerHost in 1464..1536.
    case "crawl_large" =>
      val pages = 1464 + Math.floorMod(seed, 73L).toInt
      val p = FixtureGen.Params(hosts = 3, pagesPerHost = pages, skew = 1, branching = pages)
      WorkloadSpec(name, p, CrawlConfig(seedUrls = FixtureGen.seeds(p),
        maxDepth = 1, maxUrls = 1000000, epochSeconds = 900, compactEveryEpochs = 1),
        textOnly = true, http = false, delayShift = 0)
    // Fetch latency bound: the real transport against the loopback site,
    // one fetch epoch per crawl. The site's structure is fixed: at 16 pages
    // per host one page more or less moves 7% of the URLs and which image
    // sizes are fetched. The seed instead shifts which pages get which
    // response delay in FixtureGen's 50..110 ms pattern.
    case "crawl_http" =>
      val p = FixtureGen.Params(hosts = 3, pagesPerHost = 16, skew = 1, branching = 16)
      WorkloadSpec(name, p, CrawlConfig(seedUrls = FixtureGen.seeds(p),
        maxDepth = 1, epochSeconds = 30), textOnly = false, http = true,
        delayShift = Math.floorMod(seed, 7L).toInt)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }
}

/** A fetcher that serves the fixture pages without their image refs: the
  * text-only crawl keeps the J7 image path out of the measurement. */
final class TextOnlyFetcher(inner: Fetcher) extends Fetcher {
  override def fetchPages(urls: DataFrame): DataFrame =
    inner.fetchPages(urls).withColumn("imageRefs", array().cast("array<string>"))
}

/** The prepared workload: cached fixture frames, reference results, and for
  * the HTTP workload the running loopback site. */
final class Workload(spark: SparkSession, val spec: WorkloadSpec, serverThreads: Int)
    extends AutoCloseable {
  import spark.implicits._

  private val p = spec.params

  val site: Option[LoopbackSite] =
    if (spec.http) Some(new LoopbackSite(p, serverThreads, spec.delayShift)) else None

  /** Maps a fixture URL or host to what the engine sees. */
  private def mapUrl(u: String): String = site.fold(u)(_.toLoopback(u))
  private def mapHost(h: String): String =
    site.fold(h)(s => graft.util.PyUrl.host(s.toLoopback(s"https://$h")))

  private val web = if (spec.http) None else Some(cached(FixtureGen.webGraphDF(spark, p)))
  private val images = cached(
    if (spec.textOnly) FixtureGen.imagesDF(spark, 2L) else FixtureGen.imagesDF(spark, p))
  private val sitemaps = if (spec.http) None else Some(cached(FixtureGen.sitemapsDF(spark, p)))
  private val policies = FixtureGen.robotsMap(p)

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** ReferenceSim's crawl of the same site, keyed and spelled the way the
    * engine will report it. */
  val expected: Map[String, ReferenceSim.HostResult] =
    ReferenceSim.crawlAll(p, spec.cfg.maxDepth, spec.cfg.language).map { case (h, r) =>
      mapHost(h) -> ReferenceSim.HostResult(
        order = r.order.map(mapUrl),
        dispositions = r.dispositions.map { case (u, d) => mapUrl(u) -> d },
        seen = r.seen.map(mapUrl),
        fetchedImages =
          if (spec.textOnly) Seq.empty else r.fetchedImages.map { case (u, i) => (mapUrl(u), i) })
    }

  private val allowLoopback: String => Boolean = u =>
    graft.operators.Ssrf.hostname(u) == "127.0.0.1" || !graft.operators.Ssrf.isSsrf(u)

  /** A fresh engine over `io`. For the HTTP workload this includes the
    * bootstrap fetches (robots.txt and sitemaps over HTTP) a crawl of a real
    * site cannot skip, so callers time it with the run. */
  def newEngine(io: TableIO): CrawlEngine = site match {
    case None =>
      val fixture = new FixtureFetcher(web.get)
      new CrawlEngine(spark, spec.cfg,
        if (spec.textOnly) new TextOnlyFetcher(fixture) else fixture,
        images, io, policies, sitemaps = sitemaps)
    case Some(s) =>
      val seeds = s.origins.map(_ + "/docs")
      val seedByHost = seeds.map(u => graft.util.PyUrl.host(u) -> u).toMap
      val robots = BootstrapFetch.robotsPolicies(seedByHost, validate = allowLoopback)
      val bodies = BootstrapFetch.sitemapBodies(seedByHost, robots, validate = allowLoopback)
      new CrawlEngine(spark, spec.cfg.copy(seedUrls = seeds),
        new HttpFetcher(validate = allowLoopback), images, io, robots,
        sitemaps = Some(bodies.toDF("sitemap_url", "body", "gzipped")),
        ssrfCheck = allowLoopback)
  }

  override def close(): Unit = {
    site.foreach(_.close())
    (web.toSeq ++ sitemaps.toSeq :+ images).foreach(_.unpersist())
  }
}
