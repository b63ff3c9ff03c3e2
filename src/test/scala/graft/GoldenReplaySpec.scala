package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.epoch.CrawlEngine
import graft.fixtures.FixtureGen
import graft.functions.ImageOps
import graft.model.CrawlConfig
import graft.sim.ReferenceSim
import graft.sources.{FixtureFetcher, ParquetSnapshotTableIO}

/** THE north-rule gate (SURVEY §5.2-3): the Spark engine must reproduce the
  * reference's crawl ordering and URL-seen set exactly, given the same seed
  * list and politeness budget — verified against the pure-Scala reference
  * simulator on the deterministic synthetic web; plus per-row image PSNR /
  * caption validation (J7) and epoch-resume equality (ADR-010 semantics).
  */
class GoldenReplaySpec extends SparkSpec {
  import spark.implicits._

  private val params = FixtureGen.Params(hosts = 3, pagesPerHost = 60, skew = 4)
  private val cfg = CrawlConfig(
    seedUrls = FixtureGen.seeds(params),
    maxDepth = 7,
    epochSeconds = 30) // default delay 500ms → budget 60; host 1 delay 2s → 15

  private lazy val webGraph = FixtureGen.webGraphDF(spark, params).cache()
  private lazy val images = FixtureGen.imagesDF(spark, params).cache()
  private lazy val policies = FixtureGen.robotsMap(params)
  private lazy val sim = ReferenceSim.crawlAll(params, cfg.maxDepth, cfg.language)

  private def newEngine(dir: String) = new CrawlEngine(
    spark, cfg, new FixtureFetcher(webGraph), images,
    new ParquetSnapshotTableIO(spark, dir), policies,
    sitemaps = Some(FixtureGen.sitemapsDF(spark, params)))

  private lazy val engine: CrawlEngine = {
    val dir = Files.createTempDirectory("graft-golden").toString
    val e = newEngine(dir)
    e.run()
    e
  }

  // Shared sim-comparison accessors: one implementation serves the base
  // gates AND the scale-regime gate, so the two can never drift apart.
  private def seenByHost(e: CrawlEngine): Map[String, Set[String]] =
    e.seen.select("host", "urlNorm").as[(String, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def orderByHost(e: CrawlEngine): Map[String, Seq[String]] =
    e.orderLog.select("host", "priority", "urlNorm")
      .as[(String, Long, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  private def dispositionsByHost(e: CrawlEngine): Map[String, Map[String, String]] =
    e.orderLog.select("host", "urlNorm", "disposition")
      .as[(String, String, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap

  private def assertMatchesSim(e: CrawlEngine, label: String): Unit = {
    val gotSeen = seenByHost(e)
    val gotOrder = orderByHost(e)
    val gotDisp = dispositionsByHost(e)
    (0 until params.hosts).foreach { h =>
      val host = FixtureGen.hostName(h)
      assert(gotSeen.getOrElse(host, Set.empty) == sim(host).seen,
        s"$label: seen mismatch for $host")
      assert(gotOrder.getOrElse(host, Seq.empty) == sim(host).order,
        s"$label: order mismatch for $host")
      assert(gotDisp.getOrElse(host, Map.empty) == sim(host).dispositions,
        s"$label: disposition mismatch for $host")
    }
  }

  test("URL-seen set equality with the reference (per host)") {
    val got = seenByHost(engine)
    (0 until params.hosts).foreach { h =>
      val host = FixtureGen.hostName(h)
      assert(got.getOrElse(host, Set.empty) == sim(host).seen, s"seen mismatch for $host")
    }
  }

  test("crawl (dispatch) ordering equality with the reference (per host)") {
    val got = orderByHost(engine)
    (0 until params.hosts).foreach { h =>
      val host = FixtureGen.hostName(h)
      assert(got.getOrElse(host, Seq.empty) == sim(host).order, s"order mismatch for $host")
    }
  }

  test("dispositions match the reference (failed/blocked/skipped/ok)") {
    val got = dispositionsByHost(engine)
    (0 until params.hosts).foreach { h =>
      val host = FixtureGen.hostName(h)
      assert(got.getOrElse(host, Map.empty) == sim(host).dispositions,
        s"disposition mismatch for $host")
    }
  }

  test("fetched image+caption rows match the reference and pass J7") {
    val got = engine.fetched.select("url", "image_id").as[(String, String)]
      .collect().toSet
    val expected = sim.values.flatMap(_.fetchedImages).toSet
    assert(got == expected)
    // J7 re-validation on the committed table
    val idNum = regexp_extract($"image_id", "(\\d+)", 1).cast("long")
    val bad = engine.fetched
      .withColumn("psnr", ImageOps.psnrVsSyntheticUdf($"bytes", idNum, $"w", $"h"))
      .withColumn("cap2", graft.fixtures.CaptionCheck.expectedCaption(idNum))
      .where(
        ($"fmt" === "png" && $"psnr" =!= 999.0) ||
        ($"fmt" === "jpg" && $"psnr" < 40.0) ||
        ($"cap2" =!= $"caption")).count()
    assert(bad == 0)
  }

  test("politeness budget shapes epochs: per-host per-epoch counts bounded") {
    val perEpoch = engine.orderLog.groupBy("host", "epoch").count()
      .as[(String, Int, Long)].collect()
    perEpoch.foreach { case (host, _, n) =>
      val budget = if (host == FixtureGen.hostName(1)) 15 else 60 // crawl-delay 2s vs 500ms
      assert(n <= budget, s"$host epoch over budget: $n > $budget")
    }
    // the slow host takes more epochs than its size/defaultBudget would need
    val host1Epochs = perEpoch.filter(_._1 == FixtureGen.hostName(1)).map(_._2).distinct
    assert(host1Epochs.length >= 2, "crawl-delay host should span multiple epochs")
  }

  test("an inflated dequeue observation cannot end the crawl with frontier rows left") {
    val dir = Files.createTempDirectory("graft-inflated-dequeue").toString
    val e = newEngine(dir)
    // every fetch epoch observes a dequeue as large as the whole frontier
    // (what stage retries or speculation can do to an Observation): the
    // observed remaining count reads 0 from the first fetch epoch on
    e.observedDequeue = (pendingRows, _) => pendingRows
    e.run()
    val epochs = e.orderLog.select("epoch").distinct().count()
    assert(epochs >= 2, "the crawl stopped after its first fetch epoch")
    val pending = e.table("pending").get
    val left = e.table("dequeued")
      .map(dq => pending.join(dq, Seq("urlNorm"), "left_anti")).getOrElse(pending)
    assert(left.count() == 0, "frontier rows left after the crawl")
    assertMatchesSim(e, "inflated-dequeue")
  }

  test("resume after pause (fetch epoch 1) reproduces the uninterrupted run") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val e1 = newEngine(dir)
    e1.run(stopAfterFetchEpoch = Some(1)) // pause between epochs (ST2)
    val e2 = newEngine(dir)                // new engine, same tables
    e2.run()                               // resumes from last committed epoch
    val a = e2.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    val b = engine.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(a == b, "resumed order log differs from uninterrupted run")
    val fa = e2.fetched.select("image_id", "url").as[(String, String)].collect().toSet
    val fb = engine.fetched.select("image_id", "url").as[(String, String)].collect().toSet
    assert(fa == fb)
  }

  test("resume after pause mid-discovery reproduces the uninterrupted run") {
    val dir = Files.createTempDirectory("graft-resume-disc").toString
    val e1 = newEngine(dir)
    e1.run(stopAfterDiscoverDepth = Some(2))
    val e2 = newEngine(dir)
    e2.run()
    val a = e2.seen.select("host", "urlNorm").as[(String, String)].collect().toSet
    val b = engine.seen.select("host", "urlNorm").as[(String, String)].collect().toSet
    assert(a == b)
  }

  test("warm page cache: repeat crawl serves ok pages from cache, same results") {
    val cache = engine.table("page_cache").get
    val dir = Files.createTempDirectory("graft-warm").toString
    val e2 = new CrawlEngine(
      spark, cfg, new FixtureFetcher(webGraph), images,
      new ParquetSnapshotTableIO(spark, dir), policies,
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)),
      warmCache = Some(cache))
    e2.run()
    // identical outcome …
    val a = e2.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    val b = engine.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    assert(a == b)
    // … but every previously-ok page is served from the cache (O8)
    val methods = e2.orderLog.where($"disposition" === "ok")
      .select("fetchMethod").as[String].collect()
    assert(methods.nonEmpty && methods.forall(_ == "cache"))
    // blocked pages were never cached → still classified via a real fetch
    assert(e2.orderLog.where($"disposition" === "blocked").count() ==
      engine.orderLog.where($"disposition" === "blocked").count())
  }

  test("S9 TTL: expired warm-cache rows are re-fetched (cache.py:75-88 parity)") {
    val cache = engine.table("page_cache").get
    val ttl = cfg.warmCacheTtl
    // victim must be a page whose FIXTURE fetch label isn't "cache"
    // (FixtureGen assigns method j%5 — a re-fetched "cache"-labeled page
    // would be indistinguishable from a warm-cache hit)
    val victim = engine.orderLog
      .where($"disposition" === "ok" && $"fetchMethod" =!= "cache")
      .orderBy("urlNorm").select("urlNorm").as[String].head()
    // age ONE row past the TTL. The cutoff is relative to the AGED cache's
    // own newest epoch, which shifts down if the victim happened to be the
    // sole newest row — so pin the victim to (overall max − ttl − 1),
    // which is expired no matter which row held the max.
    val maxEpoch = cache.agg(max($"cachedEpoch")).as[Int].head()
    val aged = cache.withColumn("cachedEpoch",
      when($"urlNorm" === victim, lit(maxEpoch - ttl - 1)).otherwise($"cachedEpoch"))
    val dir = Files.createTempDirectory("graft-ttl").toString
    val e3 = new CrawlEngine(
      spark, cfg, new FixtureFetcher(webGraph), images,
      new ParquetSnapshotTableIO(spark, dir), policies,
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)),
      warmCache = Some(aged))
    e3.run()
    // the expired row went through a real fetch, not the cache …
    val victimMethod = e3.orderLog.where($"urlNorm" === victim)
      .select("fetchMethod").as[String].head()
    assert(victimMethod != "cache", s"expired cache row served as cache hit")
    // … fresh rows are still cache-served, and the outcome is unchanged
    val others = e3.orderLog
      .where($"disposition" === "ok" && $"urlNorm" =!= victim)
      .select("fetchMethod").as[String].collect()
    assert(others.contains("cache"))
    val a = e3.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    val b = engine.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    assert(a == b)
  }

  test("S9 TTL clock: cache hits keep the DONOR's cachedEpoch, not a fresh stamp") {
    // a read must not rewrite the entry (cache.py:75-88 — the 24h clock
    // starts at the ORIGINAL fetch): re-stamping hits with the consuming
    // run's epoch would let chained runs serve the same page from cache
    // forever, with the TTL never expiring anything
    val donor = engine.table("page_cache").get
    val donorEpochs = donor.select($"urlNorm",
      $"cachedEpoch".cast("long").as("donorEpoch"))
    val dir = Files.createTempDirectory("graft-ttlclock").toString
    val e4 = new CrawlEngine(
      spark, cfg, new FixtureFetcher(webGraph), images,
      new ParquetSnapshotTableIO(spark, dir), policies,
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)),
      warmCache = Some(donor))
    e4.run()
    val hits = e4.orderLog.where($"fetchMethod" === "cache").select("urlNorm")
    assert(hits.count() > 0)
    val mismatched = e4.table("page_cache").get
      .join(hits, Seq("urlNorm"))
      .join(donorEpochs, Seq("urlNorm"))
      .where($"cachedEpoch".cast("long") =!= $"donorEpoch")
      .count()
    assert(mismatched == 0,
      "a cache hit must carry the donor's TTL clock forward")
  }

  test("A4: maxUrls cap hit — deterministic lexicographic admission, stable across runs") {
    // host 0 (pure BFS host) reaches far more than cap=15 URLs; the engine
    // must stop at the cap, selecting the lexicographically-first fresh
    // URLs per depth (documented deviation: the reference caps in
    // PYTHONHASHSEED-dependent set-iteration order, discovery.py:167,181 —
    // we pin the ambiguity to a total order)
    val p = FixtureGen.Params(hosts = 1, pagesPerHost = 60, skew = 2)
    val capCfg = CrawlConfig(seedUrls = FixtureGen.seeds(p), maxDepth = 7, maxUrls = 15)
    def runOnce(): Set[String] = {
      val e = new CrawlEngine(spark, capCfg,
        new FixtureFetcher(FixtureGen.webGraphDF(spark, p)),
        FixtureGen.imagesDF(spark, p),
        new ParquetSnapshotTableIO(spark, Files.createTempDirectory("graft-cap").toString),
        FixtureGen.robotsMap(p))
      e.run()
      e.seen.select("urlNorm").as[String].collect().toSet
    }
    val seen1 = runOnce()
    assert(seen1.size == 15, s"cap not hit exactly: ${seen1.size}")
    assert(runOnce() == seen1, "cap admission not deterministic across runs")
    // reachable set is larger than the cap (the cap actually bit)
    assert(ReferenceSim.crawlHost(p, 0, 7, "en", respectRobots = true).seen.size > 15)
  }

  test("ST3: cancel() aborts an in-flight epoch; resume completes identically") {
    val dir = Files.createTempDirectory("graft-cancel").toString
    val slow = new graft.sources.Fetcher {
      override def fetchPages(urls: org.apache.spark.sql.DataFrame) = {
        val pages = new FixtureFetcher(FixtureGen.webGraphDF(urls.sparkSession, params))
          .fetchPages(urls)
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
          .encoderFor(pages.schema)
        pages.mapPartitions { it =>
          CancelProbe.started.set(true)
          Thread.sleep(30000L) // interrupted by cancelJobGroup
          it
        }(enc)
      }
    }
    val e1 = new CrawlEngine(spark, cfg, slow, images,
      new ParquetSnapshotTableIO(spark, dir), policies,
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)))
    CancelProbe.started.set(false)
    val t0 = System.nanoTime()
    val runner = new Thread(() => e1.run())
    runner.start()
    while (!CancelProbe.started.get() && runner.isAlive) Thread.sleep(50)
    e1.cancel()
    runner.join(20000)
    assert(!runner.isAlive, "run() did not return after cancel()")
    assert((System.nanoTime() - t0) / 1e9 < 25, "cancel did not interrupt the sleep")
    // resume with a working fetcher: identical final state to the golden run
    val e2 = newEngine(dir)
    e2.run()
    val a = e2.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    val b = engine.orderLog.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSet
    assert(a == b, "post-cancel resume diverged from the uninterrupted run")
  }

  test("cascade: nav host skips BFS (seen = seed-page nav links only)") {
    val host = FixtureGen.hostName(1)
    assert(FixtureGen.hasNav(1) && !FixtureGen.hasSitemap(1))
    val got = engine.seen.where($"host" === host)
      .select("urlNorm").as[String].collect().toSet
    assert(got == sim(host).seen)
    // nav set excludes the seed itself and is much smaller than the graph
    assert(!got.contains(FixtureGen.seedUrl(1)))
    assert(got.size < FixtureGen.pageCount(params, 1))
    assert(engine.seen.where($"host" === host && $"depth" > 0).count() == 0)
  }

  test("cascade: sitemap host skips BFS (seen = sitemap expansion only)") {
    // host 2 publishes a sitemap (FixtureGen.hasSitemap) listing even pages
    val host = FixtureGen.hostName(2)
    assert(FixtureGen.hasSitemap(2))
    val got = engine.seen.where($"host" === host)
      .select("urlNorm").as[String].collect().toSet
    val expected = graft.sources.Sitemaps.expandPure(
      FixtureGen.sitemapBodies(params, 2), host, FixtureGen.seedUrl(2))
    assert(got == expected)
    // odd pages exist in the web graph but were never discovered
    assert(!got.contains(FixtureGen.pageUrl(2, 1)))
    // BFS hosts unaffected: depth>0 rows exist for host 0
    assert(engine.seen.where($"host" === FixtureGen.hostName(0) && $"depth" > 0).count() > 0)
  }

  test("scale admission regime (seenScaleJoinMinRows=1): full crawl ≡ reference") {
    // Forces Seen.admitAtScale (the two-Bloom 10^10 shape) for EVERY
    // discovery epoch with a non-empty seen set — the live-engine
    // counterpart of TableSeenSpec's operator-level equivalence: seen set,
    // dispatch order, and dispositions must still match the reference sim
    // bit-for-bit, proving the regime flip is invisible to crawl semantics.
    val dir = Files.createTempDirectory("graft-scale-regime").toString
    val e = new CrawlEngine(
      spark, cfg.copy(seenScaleJoinMinRows = 1L), new FixtureFetcher(webGraph),
      images, new ParquetSnapshotTableIO(spark, dir), policies,
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)))
    e.run()
    assertMatchesSim(e, "scale-regime")
  }
}

/** Cross-task signal for the ST3 cancellation test (local-mode executors
  * share the JVM, so a static AtomicBoolean is visible to tasks). */
object CancelProbe {
  val started = new java.util.concurrent.atomic.AtomicBoolean(false)
}
