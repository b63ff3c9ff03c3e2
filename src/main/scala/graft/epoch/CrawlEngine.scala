package graft.epoch

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Hashing, ImageOps, urlfns}
import graft.model.CrawlConfig
import graft.operators.{Frontier, Robots, Seen, UrlFilters}
import graft.sources.{Fetcher, TableIO}

/** The crawl engine: typed-DataFrame epoch loops over snapshot tables
  * (SURVEY §3 E1 — the Spark re-expression of `run_job`,
  * `src/jobs/runner.py:113-877`).
  *
  * Two phases, both resumable from any committed epoch (E2):
  *
  *  - '''discover''' — BFS by depth level (`discovery.py:131-230`): admit a
  *    level through Bloom-prune + exact anti-join vs the seen set, cap
  *    per-host at maxUrls, fetch, extract links (S4), canonicalize, next
  *    level. One epoch per depth.
  *  - '''fetch''' — the reference's scrape loop (`runner.py:781`) re-keyed
  *    by host: deterministic filter (F2) + robots admission (F7) build a
  *    prioritized frontier (priority = per-host lexicographic rank, W1);
  *    each epoch dequeues ≤ politeness-budget URLs per host (W3), fetches,
  *    classifies disposition (failed/blocked/skipped/ok — F5, J2), emits
  *    validated image+caption rows (J7), appends the dispatch-order log.
  *
  * Determinism contract (golden-replay gate, §5.2-3): per host, the
  * concatenated dequeue order over all fetch epochs equals the reference's
  * dispatch order, and the final seen/fetched sets match the pure-Scala
  * reference simulator exactly.
  */
final class CrawlEngine(
    spark: SparkSession,
    cfg: CrawlConfig,
    fetcher: Fetcher,
    images: DataFrame,
    io: TableIO,
    policies: Map[String, Robots.Policy],
    /** sitemap bodies (sitemap_url, body, gzipped) for the discovery
      * cascade (O1): hosts whose sitemap expansion yields URLs skip BFS
      * entirely (`discovery.py:561-604`). */
    sitemaps: Option[DataFrame] = None,
    /** F8 relevance/priority stage; the default mirrors crawl_model=None
      * (pure lexicographic order — golden-replay parity). */
    scorer: graft.operators.RelevanceScorer = graft.operators.IdentityScorer,
    /** D8/O8 — warm page cache from a prior crawl (the reference's 24h-TTL
      * disk cache, `src/scraper/cache.py`): rows with the page-observation
      * schema; cache hits skip the fetcher and surface fetchMethod="cache".
      * Every run appends its ok pages (+ `cachedEpoch`) to its own
      * `page_cache` table, which a later run can pass here. TTL is
      * enforced BY DEFAULT via `cfg.warmCacheTtl` on `cachedEpoch` (see
      * [[warmCacheFresh]]) — expired rows are re-fetched like the
      * reference's 24h rule (`cache.py:75-88`).
      * Contract: one row per urlNorm — a single run's page_cache satisfies
      * this; dedupe (keep latest epoch) when unioning caches across runs. */
    warmCache: Option[DataFrame] = None,
    /** F6 admission predicate (true = admitted). Default is the real
      * private-range check; integration tests whose fixture servers live
      * on loopback inject a permissive one. Applied to BFS seeds, sitemap
      * cascade inputs/outputs, and every fetch-epoch dequeue. */
    ssrfCheck: String => Boolean = u => !graft.operators.Ssrf.isSsrf(u)) {

  import spark.implicits._

  // one seed per host — the reference runs ONE base_url per job
  // (api/models.py JobRequest.url); two seeds on a host would silently
  // collapse in this map and filterUrlsMulti would apply only the
  // survivor's base-path facts. Run separate crawls (or one engine per
  // seed) for multiple subtrees of the same host.
  private val seedByHost: Map[String, String] = {
    val pairs = cfg.seedUrls.map(u => graft.util.PyUrl.host(
      graft.util.PyUrl.canonicalize(u)) -> u)
    require(pairs.map(_._1).distinct.size == pairs.size,
      "one seed per host (reference: one base_url per job) — for several " +
        "subtrees of one host run one job per seed via graft.jobs.JobManager " +
        "(isolated state dirs, merged `progress` view); got " + cfg.seedUrls)
    pairs.toMap
  }

  /** ssrfCheck as a column predicate (serializable closure). */
  private val ssrfAdmitted = udf(ssrfCheck)

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private val seenSchema = StructType(Seq(
    StructField("urlNorm", StringType), StructField("host", StringType),
    StructField("depth", IntegerType)))

  // ------------------------------------------------------------------
  // phase 1: discovery BFS
  // ------------------------------------------------------------------

  private def seedLevel: DataFrame =
    cfg.seedUrls.toDF("url")
      .select(urlfns.url_canonicalize($"url").as("urlNorm"))
      .select($"urlNorm", urlfns.url_host($"urlNorm").as("host"))
      .distinct()

  /** Carried across discovery epochs within one run: the seen-set Bloom is
    * built from the committed snapshot ONCE per run/resume (treeAggregate),
    * then each epoch folds only its admitted delta in via `mergeInPlace` —
    * per-epoch probe-build cost is O(delta), not O(seen) (A5). */
  private var seenBloom: org.apache.spark.util.sketch.BloomFilter = null
  private var seenBloomBc: org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.sketch.BloomFilter] = null

  /** Per-epoch candidate-Bloom broadcast from `Seen.admitAtScale` (scale
    * regime only), held so the previous epoch's copy is unpersisted
    * eagerly instead of lingering until the GC-driven ContextCleaner —
    * at the design scale it is sized to |level| per epoch. */
  private var candBloomBc: org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.sketch.BloomFilter] = null

  /** Driver-tracked |seen| for the admission-shape gate
    * (cfg.seenScaleJoinMinRows): counted once per run from the committed
    * snapshot (a parquet footer-metadata count), then advanced by each
    * epoch's admittedCount — never a per-epoch job. -1 = not yet counted. */
  private var seenTotal: Long = -1L

  /** Static gates for the zero-job Bloom-delta fold (cfg.bloomDeltaCollectMax):
    * an epoch's delta size is bounded by config — per-host cap × hosts in
    * discovery, Σ politeness budgets in fetch — so the choice between
    * "collect keys through an Observation riding an existing action" and
    * "dedicated treeAggregate job" is made once, before any plan builds. */
  private lazy val seenDeltaCollectable: Boolean =
    policies.size.toLong * cfg.maxUrls <= cfg.bloomDeltaCollectMax
  private lazy val contentDeltaCollectable: Boolean =
    policies.values.map(p => cfg.hostBudget(p.crawlDelaySec).toLong).sum <=
      cfg.bloomDeltaCollectMax

  private def foldBloom(current: org.apache.spark.util.sketch.BloomFilter,
      keys: scala.collection.Seq[String]): org.apache.spark.util.sketch.BloomFilter = {
    val b = if (current != null) current
      else org.apache.spark.util.sketch.BloomFilter.create(
        cfg.bloomExpectedItems, cfg.bloomFpp)
    keys.foreach(b.putString)
    b
  }

  /** Bounded read of an Observation's metrics row. Spark's `Observation.get`
    * awaits an internal promise with NO timeout, and delivery rides the
    * async listener bus — a dropped SQLExecutionEnd event (routine on a
    * busy cluster's bounded listener queue) would hang the driver between
    * epochs, with no exception for a catch block to rescue. The bounded
    * accessors (`getOrEmpty`/`getRowOrEmpty`) are private[sql], so this
    * awaits the public `future` with a deadline instead. None = event
    * lost/late → the caller MUST run its explicit fallback (a labeled job
    * for correctness-bearing reads, a warned degrade for counters).
    * InterruptedException propagates (cancellation is not a lost event). */
  private def observedWithin(o: Observation, what: String): Option[Map[String, Any]] =
    try {
      val row = scala.concurrent.Await.result(o.future, CrawlEngine.observationWait)
      // Spark notifies a schema-less Row.empty to unblock waiters when the
      // observed execution FAILED or was cancelled — no metrics to read
      if (row == null || row.schema == null) {
        System.err.println(s"[graft] WARN $what observation empty " +
          "(observed execution failed/cancelled) — running fallback")
        None
      } else Some(row.schema.fieldNames.iterator.zip(row.toSeq.iterator).toMap)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARN $what observation lost " +
          s"(${e.getClass.getSimpleName}) — running fallback")
        None
    }

  private def observedKeys(o: Observation, what: String): Option[scala.collection.Seq[String]] =
    observedWithin(o, what).flatMap(_.get("keys") match {
      case Some(s: scala.collection.Seq[_]) =>
        Some(s.collect { case x: String => x })
      // missing/malformed metric shape reads as LOST, not as "no keys":
      // Some(empty) would skip the correctness-bearing treeAggregate
      // fallback and silently hole the carried Bloom
      case _ => None
    })

  /** Drop the per-epoch broadcast Bloom copies. Called on pause/stop exits
    * and at phase end, not just the happy path: a paused job held by the
    * JobManager must not pin |seen|/|level|-sized Blooms on the executors
    * for as long as it stays paused. The driver-side filters survive for a
    * same-instance resume; the next scale epoch re-broadcasts. */
  private def dropAdmissionBroadcasts(): Unit = {
    if (seenBloomBc != null) { seenBloomBc.unpersist(); seenBloomBc = null }
    if (candBloomBc != null) { candBloomBc.unpersist(); candBloomBc = null }
  }

  /** One BFS epoch per depth; commits (seen, level_next, host_counts)
    * atomically. */
  private def discoverFrom(startDepth: Int, startLevel: DataFrame,
      stopAfterDepth: Option[Int] = None): Boolean = {
    var depth = startDepth
    var level = startLevel
    // exact |level| for candidate-Bloom sizing in the scale regime: carried
    // from each epoch's level_next write observation; -1 = unknown (run
    // start / resume / lost observation) → one count() fallback when needed
    var levelRows = -1L
    var continue = true
    while (continue) {
      if (stopFlagged) { dropAdmissionBroadcasts(); return false }
      // table absence answers "is seen empty" without the per-epoch
      // isEmpty job the old `seen.isEmpty` ran (round 6 — those limit-1
      // probes were most of q29's unlabeled driver jobs). A committed
      // EMPTY seen table takes the else branch, where the one-time count
      // reads 0 and the plain anti-join against an empty right side is
      // the identity — same rows either way.
      val seenOpt = io.read("seen")
      val seen = seenOpt.getOrElse(emptyDf(seenSchema))
      // J1 admission, shape gated by |seen| (driver-tracked, no per-epoch
      // job): below the gate the plain exact anti-join broadcasts the seen
      // side under AQE — a Bloom cannot improve a broadcast hash probe, so
      // adding one is pure ceremony there. At-or-above it, admitAtScale
      // routes candidates through the carried seen-Bloom (negatives bypass
      // the join) and prunes the seen side with a per-epoch candidate
      // Bloom, so the confirm join shuffles O(|level|) on BOTH sides
      // instead of O(|seen|). ALL carried-Bloom work (build, fold,
      // broadcast) lives in the scale regime too: below the gate nothing
      // probes the Bloom, so building/folding it there would be a
      // per-epoch job spent on nothing — and a mid-run regime flip is
      // covered because the flip epoch's snapshot read contains every
      // committed row, making the one-time rebuild complete by
      // construction.
      val fresh0 =
        if (seenOpt.isEmpty) level
        else {
          if (seenTotal < 0)
            seenTotal = described("seen count: admission gate, once per run")(
              seen.count())
          if (seenTotal >= cfg.seenScaleJoinMinRows) {
            if (seenBloom == null)
              seenBloom = described("bloom rebuild: seen snapshot")(
                Seen.buildBloom(seen, cfg.bloomExpectedItems, cfg.bloomFpp))
            // previous epoch's broadcast copies are done (commit completed)
            if (seenBloomBc != null) seenBloomBc.unpersist()
            seenBloomBc = spark.sparkContext.broadcast(seenBloom)
            if (candBloomBc != null) { candBloomBc.unpersist(); candBloomBc = null }
            // candidate-Bloom sizing: exact level count carried from the
            // previous epoch's level_next write observation; the count()
            // fallback fires once per run (resume / first scale epoch).
            // Sizing is non-semantic — undersizing only degrades pruning.
            if (levelRows < 0)
              levelRows = described("level count: scale-admission sizing")(
                level.count())
            // described: the candidate-Bloom treeAggregate inside is an
            // eager job and must not be invisible in the attribution
            described(s"admission: candidate bloom, discover/$depth")(
              Seen.admitAtScale(level, seen, seenBloomBc, levelRows,
                cfg.bloomFpp, bc => candBloomBc = bc))
          } else Seen.admit(level, seen)
        }
      // per-host cap (A4): deterministic lexicographic cap, NOT arbitrary
      // limit. (Reference caps in set-iteration order, which is
      // PYTHONHASHSEED-dependent — we fix the ambiguity.) Counts come from
      // the running host_counts table (O(hosts), carried commit to commit),
      // not a full re-aggregation of seen — seeded from seen once when the
      // cascade strategies pre-populated it.
      val seenCounts = io.read("host_counts").getOrElse(
        seen.groupBy("host").agg(count(lit(1)).cast("long").as("seenCnt")))
      val obsSeenKeys = Observation(s"discover_keys_$depth")
      val admitted0 = fresh0
        .join(seenCounts, Seq("host"), "left")
        .na.fill(0L, Seq("seenCnt"))
        .withColumn("rn", row_number().over(Window.partitionBy("host").orderBy("urlNorm")))
        .where($"rn" <= lit(cfg.maxUrls.toLong) - $"seenCnt")
        .select($"urlNorm", $"host", lit(depth).as("depth"))
      val admitted = (if (seenDeltaCollectable)
          // Bloom-delta keys ride the count() below — no per-epoch treeAggregate
          admitted0.observe(obsSeenKeys, collect_set($"urlNorm").as("keys"))
        else admitted0).cache()
      val admittedCount = described(s"discover/$depth admit")(admitted.count())
      val newCounts = seenCounts.unionByName(
          admitted.groupBy("host").agg(count(lit(1)).cast("long").as("seenCnt")))
        .groupBy("host").agg(sum("seenCnt").cast("long").as("seenCnt"))

      val nextLevel =
        if (admittedCount == 0 || depth >= cfg.maxDepth) emptyDf(
          StructType(seenSchema.fields.take(2)))
        else {
          // F6 at discovery-fetch time too (links can point anywhere; the
          // fetch-phase gate alone would leave BFS fetches uncovered for
          // transports without internal validation). Rejected URLs stay in
          // `seen` (discovered) but are never fetched.
          val fetchable = admitted.where(ssrfAdmitted($"urlNorm"))
          val pages = fetcher.fetchPagesForDiscovery(fetchable)
          pages
            .where($"status" === 200 && $"contentType".contains("text/html"))
            .select($"urlNorm".as("pageUrl"), $"host", explode($"links").as("href"))
            .select($"host",
              urlfns.url_extract_clean($"pageUrl", $"href", $"host").as("clean"))
            .where($"clean" =!= "")
            .select(urlfns.url_canonicalize($"clean").as("urlNorm"), $"host")
            .distinct()
        }
      // next level's row count rides the level_next commit write — it sizes
      // the next epoch's candidate Bloom (scale regime) with zero extra jobs
      val obsLevelRows = Observation(s"level_rows_$depth")
      commitTracked("discover", depth,
        tables = Map(
          "level_next" -> nextLevel.observe(obsLevelRows, count(lit(1)).as("rows")),
          "host_counts" -> newCounts),
        appends = Map("seen" -> admitted),
        counters = Map("admitted" -> admittedCount, "depth" -> depth.toLong))
      if (seenTotal >= 0) seenTotal += admittedCount
      levelRows = observedWithin(obsLevelRows, s"discover/$depth level-rows")
        .flatMap(_.get("rows")).collect { case n: Long => n }
        .getOrElse(-1L) // lost obs → labeled count() fallback next epoch
      // fold only the epoch delta into the carried Bloom (north rule:
      // per-epoch treeAggregate rebuild — over the delta, merged
      // broadcast); statically-small deltas fold from the observation
      // collected by the count() above instead of a dedicated job.
      // CORRECTNESS-BEARING: the carried Bloom must contain every admitted
      // key (admitAtScale routes Bloom-negatives past the exact join), so
      // a lost/late observation falls back to the labeled treeAggregate
      // over the still-cached delta — never an empty fold. Below the gate
      // no Bloom exists (seenBloom == null) and the fold is skipped — the
      // flip epoch rebuilds from the committed snapshot instead.
      if (admittedCount > 0 && seenBloom != null) {
        val obsDelta = if (seenDeltaCollectable)
          observedKeys(obsSeenKeys, s"discover/$depth seen-delta") else None
        obsDelta match {
          case Some(keys) => seenBloom = foldBloom(seenBloom, keys)
          case None =>
            val delta = described(s"bloom delta: discover/$depth")(
              Seen.buildBloom(admitted, cfg.bloomExpectedItems, cfg.bloomFpp))
            if (seenBloom == null) seenBloom = delta
            else seenBloom.mergeInPlace(delta)
        }
      }
      admitted.unpersist()
      if (stopAfterDepth.contains(depth)) { // paused (ST2)
        dropAdmissionBroadcasts(); return false
      }
      // next-level emptiness comes from the row count that rode the
      // level_next commit write — the isEmpty job only runs when that
      // observation was lost (round 6: one fewer driver job per epoch)
      if (levelRows == 0L) continue = false
      else {
        val nxt = io.read("level_next").get
        if (levelRows > 0L || !nxt.isEmpty) { level = nxt; depth += 1 }
        else continue = false
      }
    }
    // discovery done — the admission Blooms have no further consumer;
    // don't carry |seen|/|level|-sized broadcasts through the fetch phase
    dropAdmissionBroadcasts()
    true
  }

  // ------------------------------------------------------------------
  // phase 2: filter + prioritized politeness fetch
  // ------------------------------------------------------------------

  private val robotsBc = Robots.broadcastPolicies(spark, policies)

  /** Host budgets: floor(epochMs / max(delayMs, crawlDelay·1000)) (W3). */
  private def budgetsDf: DataFrame =
    policies.toSeq.sortBy(_._1).map { case (h, p) =>
      (h, cfg.hostBudget(p.crawlDelaySec))
    }.toDF("host", "budget")

  private def fetchInit(): Unit = {
    val discovered = io.read("seen").getOrElse(emptyDf(seenSchema))
    // F2 deterministic filter (per-seed base facts) …
    val filtered = UrlFilters.filterUrlsMulti(discovered, seedByHost, cfg.language)
    // … then robots admission (F7), mirroring runner.py:284,297-309 order.
    val admitted =
      if (cfg.respectRobotsTxt)
        filtered.where(Robots.allowedUdf(robotsBc)(
          $"host", urlfns.url_path($"urlNorm")))
      else filtered
    // F8 relevance stage (semi-join-validated scorer; Identity default
    // reproduces the reference's sorted dispatch order exactly)
    val pending = graft.operators.Relevance.prioritize(admitted, scorer).cache()
    val pendingCount = // materialize once before the write
      described("fetch/0 prioritize")(pending.count())
    commitTracked("fetch", 0, tables = Map("pending" -> pending),
      counters = Map("pending" -> pendingCount))
    pending.unpersist()
  }

  private val dequeuedSchema = StructType(Seq(StructField("urlNorm", StringType)))

  /** Carried cross-epoch content-hash Bloom (J2): built from the committed
    * seen_content once per run/resume, folded with each epoch's ok delta —
    * most epochs have no cross-epoch duplicate candidates, so the exact
    * confirm (and its seen_content scan) is skipped for the bulk of rows. */
  private var contentBloom: org.apache.spark.util.sketch.BloomFilter = null
  private var contentBloomBc: org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.sketch.BloomFilter] = null
  private def contentKey = concat_ws("\u0000", $"host", $"contentHash")

  /** S9 TTL enforcement (reference `cache.py:23-44,75-88` — the 24h rule
    * as a deterministic epoch-age predicate, applied BY DEFAULT): rows
    * older than `cfg.warmCacheTtl` epochs relative to the donor cache's
    * own newest `cachedEpoch` are dropped here, so the fetch path re-
    * fetches them. Caches without the column (pre-TTL donors) are treated
    * as uniformly fresh, documented compatibility. Computed lazily ONCE
    * per engine (one tiny max() action), not per epoch. */
  private[graft] lazy val warmCacheFresh: Option[DataFrame] = warmCache.map { c =>
    if (!c.columns.contains("cachedEpoch")) c
    else {
      val newest = c.agg(max($"cachedEpoch".cast("long"))).head()
      if (newest.isNullAt(0)) c
      else c.where($"cachedEpoch".cast("long") >
        lit(newest.getLong(0) - cfg.warmCacheTtl))
    }
  }

  /** The live frontier: committed base ∖ accumulated per-epoch dequeue
    * deltas. Each fetch epoch APPENDS its dequeued urlNorms (commit I/O
    * proportional to the epoch's dequeue, not the frontier — the 10^10-URL
    * requirement); every cfg.compactEveryEpochs epochs the view is
    * materialized back into `pending` and the delta chain reset, bounding
    * the anti-join's right side at K × budget × hosts rows. */
  private def pendingView: DataFrame = {
    val base = io.read("pending").get
    io.read("dequeued")
      .map(dq => base.join(dq, Seq("urlNorm"), "left_anti"))
      .getOrElse(base)
  }

  /** Maps (observed pending rows, observed dequeue count) to the dequeue
    * count a fetch epoch uses. Identity; specs replace it to model an
    * Observation that stage retries or speculation inflated. */
  private[graft] var observedDequeue: (Long, Long) => Long = (_, dequeued) => dequeued

  /** Returns (dequeued rows, frontier rows REMAINING after this epoch;
    * -1 when unknown). The remaining count lets [[fetchFrom]] skip the
    * final all-empty epoch (a full dequeue+classify action that commits
    * nothing) — round 6. Conservative by construction: the pending count
    * rides an Observation, whose loss or inflation only makes remaining
    * look LARGER (an extra, correct, empty epoch); a zero is confirmed
    * with an exact dequeue count before it is returned, so an inflated
    * dequeue observation never skips an epoch that had work. */
  private def fetchEpoch(epoch: Int): (Long, Long) = {
    val obsPending = Observation(s"fetch_epoch_${epoch}_pending")
    val pending = pendingView.observe(obsPending, count(lit(1)).as("rows"))
    // cached but NOT counted here: the dequeue size rides the classified
    // observation below (round-3 ask — one driver action per epoch); the
    // cache populates inside that same action and the commit appends read it
    val deq = Frontier.dequeue(pending, budgetsDf,
      cfg.hostBudget(None), saltCount = 16).cache()

    val obs = Observation(s"fetch_epoch_$epoch")
    val obsImg = Observation(s"fetch_epoch_${epoch}_images")
    // F6 at fetch time: the reference re-validates SSRF inside every fetch
    // level (page.py:25,58,85,268); rejected rows never reach a transport
    // and classify as failed. (HttpFetcher additionally re-validates every
    // request + redirect hop; this gate covers fixture/test transports.)
    def ssrfSplit(urls: DataFrame): (DataFrame, DataFrame) = {
      val flagged = urls.withColumn("__ssrfOk", ssrfAdmitted($"urlNorm"))
      (flagged.where($"__ssrfOk").drop("__ssrfOk"),
        flagged.where(!$"__ssrfOk").drop("__ssrfOk"))
    }
    def ssrfFailedRows(rejected: DataFrame): DataFrame =
      rejected.select($"urlNorm", $"host",
        lit(0).as("status"), lit("").as("contentType"), lit("").as("content"),
        array().cast("array<string>").as("links"),
        array().cast("array<string>").as("navLinks"),
        array().cast("array<string>").as("imageRefs"),
        lit("ssrf_blocked").as("fetchMethod"), lit(0L).as("loadMs"))
    // J6/O8 — cache lookup before fetching: hits are served from the warm
    // cache (fetchMethod="cache"), misses go to the transport. Blocked
    // pages are never cached (runner.py:522-524) so a hit is always safe.
    var warmHits: DataFrame = null // cached per-epoch; released below
    // F6 splits the WHOLE dequeue before any serving path — cache hits
    // included: a warm cache donated by a permissive run must not smuggle
    // an SSRF-rejected URL past the gate as fetchMethod="cache" (the
    // cache-less branch classifies the same URL ssrf_blocked)
    val (deqOk, deqRejected) = ssrfSplit(deq.select("urlNorm", "host"))
    val fetchedPages = warmCacheFresh match {
      case None =>
        fetcher.fetchPages(deqOk).unionByName(ssrfFailedRows(deqRejected))
          .withColumn("__donorEpoch", lit(null).cast("long"))
      case Some(cache) =>
        // hit join: tiny dequeued batch probes the big cache (AQE
        // broadcasts the deq side — one cache scan, no shuffle)
        val hits = deqOk
          .join(cache.drop("host"), Seq("urlNorm"), "inner")
          .withColumn("fetchMethod", lit("cache"))
          // carry the DONOR's TTL clock: a cache hit re-appended to this
          // run's page_cache must keep the original fetch's cachedEpoch —
          // re-stamping it "fresh" would let chained runs serve the same
          // page from cache forever, defeating the 24h-rule TTL the
          // reference ages entries by (cache.py:75-88 — a read does not
          // rewrite the entry)
          .withColumn("__donorEpoch",
            (if (cache.columns.contains("cachedEpoch")) col("cachedEpoch")
             else lit(null)).cast("long"))
          .select((Fetcher.pageObservationSchema.fieldNames.map(col) :+
            col("__donorEpoch")).toIndexedSeq: _*)
          .cache()
        warmHits = hits
        // misses = deqOk ∖ hits — anti against the ≤|deq| HIT set, not the
        // full cache (a left-anti's broadcastable side is the right one,
        // so deq-anti-cache would shuffle the whole cache every epoch)
        val misses = deqOk
          .join(hits.select("urlNorm"), Seq("urlNorm"), "left_anti")
        hits.unionByName(fetcher.fetchPages(misses)
            .withColumn("__donorEpoch", lit(null).cast("long")))
          .unionByName(ssrfFailedRows(deqRejected)
            .withColumn("__donorEpoch", lit(null).cast("long")))
    }
    val pages0 = fetchedPages
      .join(deq.select("urlNorm", "priority"), Seq("urlNorm"))
    // "content ok" spans text/html AND native/proxy markdown (S5/S6): the
    // chain's markdown wins are first-class ok pages like the reference's
    val isHtmlOk = $"status" === 200 &&
      ($"contentType".contains("text/html") || $"contentType".contains("text/markdown"))
    // repartition + cache is a correctness barrier, not tuning: pages feeds
    // two downstream branches (the dedup window and the classify join), and
    // the fetch inside it is side-effecting. The cache makes both branches
    // reference ONE plan object, so the repartition beneath it is a single
    // ShuffleDependency — and the DAGScheduler executes a shuffle map stage
    // (here: the fetch) exactly once BY IDENTITY, even when the two
    // consumer stages compute unpopulated cache partitions concurrently on
    // different executors of a real cluster (they then merely re-read
    // shuffle blocks). Plan-level ReuseExchange is NOT enough: the window
    // branch's own (host,contentHash) shuffle prunes the redundant
    // urlNorm repartition on that side, leaving no common exchange to
    // reuse — the exactly-once guard test in TableSeenSpec caught the
    // fetch running twice per epoch under that scheme. Unlike rounds 1-3
    // there is still no pages.count(): the cache materializes lazily
    // inside the single classified action below.
    val pages = pages0
      .withColumn("blocked", UrlFilters.isBlockedResponse($"content"))
      .withColumn("contentHash",
        when(isHtmlOk, Hashing.contentHash($"content")).otherwise(lit(null)))
      .repartition($"urlNorm")
      .cache()

    // J2 content dedup, host-scoped, priority order decides the keeper:
    // within-batch winner per (host, hash), then cross-epoch check against
    // prior epochs' seen_content. The cross-epoch check is Bloom-gated
    // (carried filter folded with each epoch's delta) and the exact
    // confirm uses the tiny-left anti shape — per-epoch cost is
    // O(dequeue) + a seen_content scan only when the Bloom flags possible
    // duplicates, never a full seen_content shuffle.
    val seenContent = io.read("seen_content").getOrElse(emptyDf(StructType(Seq(
      StructField("host", StringType), StructField("contentHash", StringType)))))
    val winners = pages
      .where(isHtmlOk && !$"blocked")
      .withColumn("dupRank", row_number().over(
        Window.partitionBy($"host", $"contentHash").orderBy($"priority")))
      .where($"dupRank" === 1)
    if (contentBloom == null && !seenContent.isEmpty)
      contentBloom = described("bloom rebuild: content snapshot")(
        Seen.buildBloom(
          seenContent.select(contentKey.as("urlNorm")),
          cfg.bloomExpectedItems, cfg.bloomFpp))
    val okRows = (if (contentBloom == null) winners
      else {
        if (contentBloomBc != null) contentBloomBc.unpersist()
        contentBloomBc = spark.sparkContext.broadcast(contentBloom)
        val bc = contentBloomBc
        val mightContain = udf((s: String) => bc.value.mightContainString(s))
        val flagged = winners.withColumn("__maybe", mightContain(contentKey))
        val fresh = flagged.where(!$"__maybe").drop("__maybe")
        val possible = flagged.where($"__maybe").drop("__maybe")
        fresh.unionByName(Seen.antiJoinTinyLeft(
          possible, seenContent, Seq("host", "contentHash")))
      })
      .select($"urlNorm").withColumn("disp_ok", lit(true))

    val obsKeys = Observation(s"fetch_epoch_${epoch}_keys")
    val classified0 = pages
      .join(okRows, Seq("urlNorm"), "left_outer")
      .withColumn("disposition",
        when(!isHtmlOk, lit("failed"))
          .when($"blocked", lit("blocked"))
          .when($"disp_ok".isNotNull, lit("ok"))
          .otherwise(lit("skipped")))
    val classified = (if (contentDeltaCollectable)
        // cross-epoch dedup Bloom delta keys (ok pages' host+hash) ride
        // the count() below — no per-epoch treeAggregate job
        classified0.observe(obsKeys,
          collect_set(when($"disposition" === "ok", contentKey)).as("keys"))
      else classified0)
      .observe(obs, count(when($"disposition" === "ok", 1)).as("pages_ok"),
        (Seq(
          // = dequeued rows (the classify join is 1:1 with the dequeue);
          // replaces the per-epoch deq.count() driver action
          count(lit(1)).as("dequeued"),
          count(when($"disposition" === "failed", 1)).as("pages_failed"),
          count(when($"disposition" === "blocked", 1)).as("pages_blocked"),
          count(when($"disposition" === "skipped", 1)).as("pages_skipped")) ++
          // A2 fetch-method histogram rides the same action (was a separate
          // groupBy().collect() job per epoch — round-2 q29 fixed cost)
          CrawlEngine.knownMethods.map(m =>
            count(when($"fetchMethod" === m, 1)).as(s"method_$m")) :+
          // null-safe: a null fetchMethod must land in method_other, not
          // vanish (bare !isin is NULL for null input → not counted)
          count(when($"fetchMethod".isNull ||
            !$"fetchMethod".isin(CrawlEngine.knownMethods: _*), 1))
            .as("method_other")): _*)
      .cache()
    // THE one materializing action of the epoch: (a) the obs/obsKeys
    // observations fire with full (not per-job partial) metrics, (b) the
    // commit's parallel table writes then read the cache instead of racing
    // to compute it, (c) the fetch executes exactly once (exchange barrier
    // above), (d) the dequeue size arrives without its own job.
    described(s"fetch/$epoch dequeue+fetch+classify")(classified.count())

    // counters degrade (with observedWithin's warning) but never silently:
    // an epoch without counters means the metrics pipeline broke, not that
    // nothing happened — and deqCount has its own count-on-cache fallback
    def observed(o: Observation, what: String): Map[String, Long] =
      observedWithin(o, s"fetch/$epoch $what")
        .map(_.collect { case (k, v: Long) => k -> v })
        .getOrElse(Map.empty)
    // obs fired on the count above; read it NOW for the termination test.
    // (A lost observation degrades to one extra count on the cache.)
    val dispCounts = observed(obs, "disposition")
    val pendingRows = observedWithin(obsPending, s"fetch/$epoch pending-rows")
      .flatMap(_.get("rows")).collect { case n: Long => n }
    val deqCount = dispCounts.get("dequeued")
      .map(n => pendingRows.fold(n)(observedDequeue(_, n)))
      .getOrElse(described(s"fetch/$epoch dequeue count (obs lost)")(classified.count()))
    // frontier rows left for the NEXT epoch (pending view size at epoch
    // start minus this epoch's dequeue); -1 = observation lost → run the
    // next epoch normally. Observed counts can only be inflated (stage
    // retries, speculation): a larger pending count merely runs one more
    // empty epoch, but a larger dequeue count would end the crawl with
    // frontier rows left — so a zero is re-checked against an exact count
    // below before the crawl stops on it.
    var remaining = pendingRows.map(_ - deqCount).getOrElse(-1L)
    if (deqCount == 0L) {
      // empty dequeue = crawl done — nothing to commit for this epoch
      deq.unpersist(); pages.unpersist(); classified.unpersist()
      if (warmHits != null) warmHits.unpersist()
      return (0L, remaining)
    }

    val orderLogNew = classified.select(
      $"host", $"priority", $"urlNorm", $"disposition",
      $"fetchMethod".as("fetchMethod"), lit(epoch).as("epoch"))

    // J7 — explode image refs, join the image table, validate per-row
    val okPages = classified.where($"disposition" === "ok")
    val refs = okPages.select($"urlNorm", $"fetchMethod", $"loadMs",
      explode($"imageRefs").as("image_id"))
    val idNum = regexp_extract($"image_id", "(\\d+)", 1).cast("long")
    val fetchedNew = refs
      .join(images, Seq("image_id"))
      // fmt-aware decode: signature-less formats the registry admits
      // (tga) can only route by the row's declared fmt — the magic sniff
      // alone would fail every such row against the lossless gate
      .withColumn("psnr", ImageOps.psnrVsSyntheticFmtUdf($"bytes", $"fmt", idNum, $"w", $"h"))
      .withColumn("validPixels", {
        // J7 per-format invariant from the DECODER REGISTRY (X1), not a
        // hardcoded format set — the column form of PayloadDecoder.valid,
        // still codegen (isInCollection), snapshotted at plan time
        val lossless = graft.sources.DecoderRegistry.losslessFormats.toSeq
        ($"fmt".isInCollection(lossless) && $"psnr" === 999.0) ||
          (!$"fmt".isInCollection(lossless) && $"psnr" >= 40.0)
      })
      .withColumn("validCaption",
        $"caption" === graft.fixtures.CaptionCheck.expectedCaption(idNum))
      .select($"image_id", $"bytes", $"w", $"h", $"fmt", $"caption", $"phash",
        $"urlNorm".as("url"), $"fetchMethod".as("fetch_method"),
        $"loadMs".as("load_ms"), lit(epoch).as("epoch"),
        $"validPixels", $"validCaption")
      // J7 image/validation counters ride the `fetched` commit write (were
      // two separate count() jobs per epoch — round-2 q29 fixed cost)
      .observe(obsImg, count(lit(1)).as("images"),
        count(when(!$"validPixels" || !$"validCaption", 1)).as("invalid_rows"))
      .cache()

    // delta-append the dequeued set; materialize (compact) only every K
    // epochs — What's-wrong #2 fix: no O(frontier) rewrite per epoch
    val compact = epoch % cfg.compactEveryEpochs == 0
    val (pendingTables, dequeuedAppend) =
      if (compact)
        (Map(
          "pending" -> pending.join(deq.select("urlNorm"), Seq("urlNorm"), "left_anti"),
          "dequeued" -> emptyDf(dequeuedSchema)),
          Map.empty[String, DataFrame])
      else
        (Map.empty[String, DataFrame],
          Map("dequeued" -> deq.select("urlNorm")))

    // per-partition lineage (north rule): rows in/ok per host bucket this
    // epoch — the partition key the tables are bucketed by at rest
    val lineage = classified
      .groupBy(graft.functions.Hashing.hostBucket($"host", cfg.numBuckets).as("partitionId"))
      .agg(count(lit(1)).as("rowsIn"),
        count(when($"disposition" === "ok", 1)).as("rowsOk"))
      .withColumn("epoch", lit(epoch))
      .withColumn("phase", lit("fetch"))

    commitTracked("fetch", epoch,
      tables = pendingTables,
      appends = dequeuedAppend ++ Map(
        "order_log" -> orderLogNew,
        "seen_content" -> okPages.select($"host", $"contentHash"),
        // S9 — page-cache sink: ok pages only (never blocked/failed),
        // reusable as `warmCache` by a later crawl; `cachedEpoch` is the
        // TTL clock a consuming run ages rows against. Cache HITS keep
        // the donor's clock (coalesce) — re-stamping them would reset the
        // TTL on every chained run and the page would never re-fetch
        "page_cache" -> okPages.select(
          (Fetcher.pageObservationSchema.fieldNames.map(col) :+
            col("__donorEpoch")).toIndexedSeq: _*)
          .withColumn("cachedEpoch", // int like always (readers cast up)
            coalesce($"__donorEpoch", lit(epoch).cast("long")).cast("int"))
          .drop("__donorEpoch"),
        "ledger" -> lineage,
        "fetched" -> fetchedNew.drop("validPixels", "validCaption")),
      // by-name: obsImg is populated by the `fetched` data write inside the
      // commit, so it is read AFTER the writes — zero extra jobs.
      // dispCounts (incl. "dequeued") already fired on the classified count.
      counters = dispCounts ++ observed(obsImg, "image") + ("dequeued" -> deqCount))
    pagesOkTotal += dispCounts.getOrElse("pages_ok", 0L) // committed only
    // fold this epoch's ok (host, hash) delta into the carried Bloom —
    // from the observation when statically small (no job), else via the
    // distributed treeAggregate build. CORRECTNESS-BEARING like the seen
    // fold: a key missing from contentBloom makes a later duplicate look
    // definitely-fresh (the `!maybe` branch skips the exact confirm), so a
    // lost observation falls back to the treeAggregate over the
    // still-cached classified plan — never an empty fold.
    val obsContentDelta = if (contentDeltaCollectable)
      observedKeys(obsKeys, s"fetch/$epoch content-delta") else None
    obsContentDelta match {
      case Some(keys) => contentBloom = foldBloom(contentBloom, keys)
      case None =>
        val contentDelta = described(s"bloom delta: fetch/$epoch content")(
          Seen.buildBloom(
            okPages.select(contentKey.as("urlNorm")),
            cfg.bloomExpectedItems, cfg.bloomFpp))
        if (contentBloom == null) contentBloom = contentDelta
        else contentBloom.mergeInPlace(contentDelta)
    }
    // the drained-frontier shortcut fires only on an exact dequeue count:
    // one job counting the cached classify output's rows, run only when
    // the observed counts say zero is left — the crawl's last epoch. An
    // RDD count of no columns: no aggregate shuffle (a second job) and no
    // row decoding to generate code for
    if (remaining == 0L)
      remaining = pendingRows.get - described(s"fetch/$epoch dequeue count (exact)")(
        classified.select().rdd.count())
    deq.unpersist(); pages.unpersist(); classified.unpersist(); fetchedNew.unpersist()
    if (warmHits != null) warmHits.unpersist()
    (deqCount, remaining)
  }

  private def fetchFrom(startEpoch: Int, stopAfterEpoch: Option[Int]): Unit = {
    var epoch = startEpoch
    var continue = true
    while (continue && !cancelRequested && !stopRequested) {
      val (n, remaining) = fetchEpoch(epoch)
      if (n == 0) continue = false
      // frontier provably drained: the next epoch would dequeue zero and
      // commit nothing — skip its full dequeue+fetch+classify action
      // (round 6; identical committed state, one fewer epoch of driver
      // fixed cost). remaining == -1 (lost observation) runs it normally.
      else if (remaining == 0L) continue = false
      else if (stopAfterEpoch.contains(epoch)) continue = false
      else epoch += 1
    }
    // `continue` still true = the flag (not frontier exhaustion or the
    // stop-after gate) ended the loop — there was work left to do
    if (continue && (cancelRequested || stopRequested)) stoppedEarlyFlag = true
    // drop the content-dedup broadcast on EVERY exit (done or paused): a
    // paused job must not pin it on the executors; the driver-side filter
    // survives and the next fetch epoch re-broadcasts
    if (contentBloomBc != null) { contentBloomBc.unpersist(); contentBloomBc = null }
  }

  // ------------------------------------------------------------------
  // driver API: run / resume (ST2/ST3 — stop between epochs, resume from
  // the last committed snapshot; mid-epoch kills re-run identically since
  // uncommitted work is unreferenced)
  // ------------------------------------------------------------------

  /** Cascade strategy 1 (O1): expand sitemaps; hosts with a non-empty
    * expansion are fully discovered (committed to `seen`) and skip the
    * later strategies. */
  private def cascadeSitemaps(): Unit =
    sitemaps.foreach { sm =>
      // F6 on the cascade inputs AND outputs: the reference validates
      // base_url before ANY strategy runs (discovery.py:539) — private-IP
      // seeds must not get their sitemaps expanded into `seen`.
      val safeSeeds = seedByHost.filter { case (_, seed) => ssrfCheck(seed) }
      val expanded = graft.sources.Sitemaps
        .expandAll(sm, safeSeeds, policies = policies)
        .where(ssrfAdmitted($"urlNorm"))
        .withColumn("depth", lit(0))
        .cache()
      val expandedCount = // materialize once before the write
        described("cascade sitemap expand")(expanded.count())
      commitTracked("sitemap", 0, tables = Map.empty,
        appends = Map("seen" -> expanded),
        counters = Map("sitemap_urls" -> expandedCount))
      expanded.unpersist()
    }

  /** Seeds of hosts not already discovered via an earlier cascade strategy
    * (derived from the committed seen table, so resume recomputes it
    * identically). */
  private def bfsSeedLevel: DataFrame = {
    val discoveredHosts = io.read("seen")
      .map(_.select("host").distinct())
      .getOrElse(emptyDf(StructType(Seq(StructField("host", StringType)))))
    seedLevel.join(discoveredHosts, Seq("host"), "left_anti")
      .where(ssrfAdmitted($"urlNorm")) // F6 on seeds
  }

  /** Cascade strategy 2 (nav parse, `discovery.py:233-340,571-585`): for
    * hosts the sitemap didn't cover, fetch the SEED page only and extract
    * nav-scoped links (startswith-skip rules + normalize, 100-URL cap);
    * hosts with ≥1 nav URL are fully discovered and skip BFS. */
  private def cascadeNav(): Unit = {
    val candidates = bfsSeedLevel
    // rendered path: the reference's try_nav_parse is ALWAYS Playwright
    // (discovery.py:277-284) — a browser-backed transport must see this page
    val pages = fetcher.fetchPagesForNavParse(candidates)
    val nav = pages
      .where($"status" === 200 && $"contentType".contains("text/html"))
      .select($"urlNorm".as("pageUrl"), $"host", explode($"navLinks").as("href"))
      .select($"host",
        graft.functions.urlfns.url_nav_clean($"pageUrl", $"href", $"host").as("urlNorm"))
      .where($"urlNorm" =!= "")
      .distinct()
      // deterministic 100-cap (reference caps in set order; fixtures stay under)
      .withColumn("rn", row_number().over(Window.partitionBy("host").orderBy("urlNorm")))
      .where($"rn" <= 100)
      .select($"urlNorm", $"host", lit(0).as("depth"))
      .cache()
    val navCount = // materialize ONCE: the commit write below
      described("cascade nav parse")(nav.count())
    commitTracked("nav", 0, tables = Map.empty, // must not re-run the fetch
      appends = Map("seen" -> nav),
      counters = Map("nav_urls" -> navCount))
    nav.unpersist()
  }

  // ST3 — cancellation: inter-epoch stop flags AND in-flight Spark-job
  // abort (reference `job.is_cancelled` checks + task cancellation,
  // `runner.py:389,498`). run() tags every action with a job group;
  // cancel() interrupts running tasks via cancelJobGroup, and the aborted
  // action's exception surfaces as a clean early return — the last
  // committed epoch stays the resume point (uncommitted work is
  // unreferenced, so a later run() continues exactly where it left off).
  @volatile private var pagesOkTotal = 0L

  /** In-process snapshot of the last commit's counters, refreshed by
    * [[commitTracked]] — serving-layer polls (SSE every ~200 ms per
    * client) read this instead of hitting the backend, which on Iceberg
    * would be a Spark SQL manifest query per poll. */
  @volatile private var countersCache: Map[String, Long] = null
  @volatile private var phaseEpochCache: Option[(String, Int)] = null

  /** All engine commits go through here so the counter cache stays one
    * read-per-commit, not one read-per-poll. */
  private def commitTracked(phase: String, epoch: Int,
      tables: Map[String, DataFrame],
      appends: Map[String, DataFrame] = Map.empty,
      counters: => Map[String, Long] = Map.empty): Unit = {
    io.commit(phase, epoch, tables, appends, counters)
    countersCache = io.lastCounters
    phaseEpochCache = Some((phase, epoch))
  }

  /** Refresh the poll caches after a commit made AROUND the engine on its
    * own backend (the post-scrape `chunks` commit goes straight through
    * `io.commit`) — without this, [[phaseEpoch]]/[[counters]] would report
    * the pre-commit phase (`complete`) forever and status/SSE would never
    * see `postprocess`. */
  private[graft] def noteExternalCommit(): Unit = {
    countersCache = io.lastCounters
    phaseEpochCache = io.lastCommitted
  }

  private val jobGroup = s"graft-crawl-${java.util.UUID.randomUUID()}"

  /** Run follow-up driver work (e.g. the post-scrape commit) under THIS
    * crawl's job group so [[cancel]] interrupts it like any epoch action —
    * outside the group, a cancel would mark the job Cancelled while the
    * follow-up's Spark jobs ran on to completion uninterrupted. */
  private[graft] def withJobGroup[T](desc: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(jobGroup, desc, interruptOnCancel = true)
    try {
      // re-check AFTER registering: cancelJobGroup is not sticky, so a
      // cancel landing between the caller's status check and this
      // registration would otherwise let f run to completion uninterrupted
      // ([[cancel]] sets the flag BEFORE cancelJobGroup, so one of the two
      // — this check or the group interrupt — always catches it)
      if (cancelRequested)
        throw new IllegalStateException("cancelled before follow-up work")
      f
    } finally spark.sparkContext.clearJobGroup()
  }
  @volatile private var cancelRequested = false
  @volatile private var stopRequested = false
  @volatile private var stoppedEarlyFlag = false

  /** True iff the LAST run() ended because a pause/cancel flag was
    * observed with work still pending — false when the crawl ran to its
    * natural end (frontier exhausted / stop-after gate). JobManager uses
    * this to break the pause-racing-natural-completion tie: a pause()
    * that lands as run() is finishing must not mark a COMPLETED crawl
    * Paused (it would never be swept and its SSE streams would keep
    * alive forever). */
  private[graft] def stoppedEarly: Boolean = stoppedEarlyFlag

  def cancel(): Unit = {
    cancelRequested = true
    spark.sparkContext.cancelJobGroup(jobGroup)
  }

  /** ST2 — graceful pause (reference PR 3.1 `pause_job`): stop BETWEEN
    * epochs. Unlike [[cancel]], no in-flight Spark job is aborted — the
    * running epoch commits normally and becomes the resume point; a later
    * run() continues from it (the flag clears on every run start, so no
    * `clearPriorCancel`-style race handling is needed for pause). */
  def pause(): Unit = { stopRequested = true }

  /** Explicit un-pause for callers that run with `clearPriorStop=false`
      (JobManager.resume — see the race note on [[run]]). */
  private[graft] def clearPause(): Unit = { stopRequested = false }

  def run(stopAfterFetchEpoch: Option[Int] = None,
      stopAfterDiscoverDepth: Option[Int] = None,
      /** false = honor a cancel() that landed BEFORE this run started
        * (JobManager's cancel-while-queued window: without it, a cancel
        * racing the run start would be silently erased and the "cancelled"
        * job would crawl to completion). Default true keeps the documented
        * resume-after-cancel semantics for interactive reuse. */
      clearPriorCancel: Boolean = true,
      /** false = honor a pause() that landed BEFORE this run started (the
        * JobManager worker's pause-racing-the-run-start window, symmetric
        * with clearPriorCancel); such callers clear the flag explicitly
        * via [[clearPause]] when they intend to resume. Default true keeps
        * pause-then-run() resuming for direct engine use. */
      clearPriorStop: Boolean = true): Unit = {
    // a fresh run() clears any previous cancellation: resume-after-cancel
    // continues from the last committed epoch (cancel() targets the run in
    // flight, not the engine's future)
    if (clearPriorCancel) cancelRequested = false
    if (clearPriorStop) stopRequested = false
    stoppedEarlyFlag = false
    if (cancelRequested) { stoppedEarlyFlag = true; return }
    // drop carried Blooms so a same-instance resume rebuilds them from the
    // committed snapshot: the delta fold runs AFTER io.commit, so a cancel
    // or failure that lands between commit and fold would leave a carried
    // Bloom permanently missing that epoch's keys — bloom-negative rows
    // skip the exact anti-join and already-seen URLs would be re-admitted
    seenBloom = null
    contentBloom = null
    seenTotal = -1L // re-count per run: cascades/other runs may have appended
    if (seenBloomBc != null) { seenBloomBc.unpersist(); seenBloomBc = null }
    if (candBloomBc != null) { candBloomBc.unpersist(); candBloomBc = null }
    if (contentBloomBc != null) { contentBloomBc.unpersist(); contentBloomBc = null }
    graft.operators.Preflight.validate(spark, fetcher, scorer) // F10
    spark.sparkContext.setJobGroup(jobGroup, "graft crawl engine",
      interruptOnCancel = true)
    try {
      runResume(stopAfterFetchEpoch, stopAfterDiscoverDepth)
      // Durable completion marker: a run that ended with NOTHING left to
      // do commits a terminal `complete` manifest row (the reference's
      // state file records completion — empty `state.pending_urls`,
      // `src/jobs/state.py`), so resume-from-state can answer "job was
      // complete" across processes without replaying the pending math.
      // Counters re-commit (manifest counters are per-commit, and a bare
      // row would zero the serving layer's cumulative pages_completed);
      // table pointers carry forward by manifest semantics. Skipped on
      // partial runs (stop-between-epochs) and when a facade already
      // stamped its own terminal phase.
      if (!stoppedEarlyFlag && stopAfterFetchEpoch.isEmpty &&
          stopAfterDiscoverDepth.isEmpty &&
          !io.lastCommitted.map(_._1).exists(Set("complete", "postprocess")))
        commitTracked("complete", 0, tables = Map.empty, counters = io.lastCounters)
    } catch {
      // a cancelled in-flight job throws from the interrupted action; if
      // WE asked for it, that is a clean stop, not a failure
      case _: Exception if cancelRequested => stoppedEarlyFlag = true
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Labels a driver action for job-level attribution (Spark UI, history
    * server, the Q29Probe breakdown): the engine's wall cost at small SF
    * is per-job driver latency, and an unlabeled action is invisible in
    * that accounting (everything lumps under the job group's description).
    * Commit writes label themselves in TableIO. */
  private def described[T](desc: String)(action: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try action finally spark.sparkContext.setJobDescription(null)
  }

  /** Honors a pause/cancel flag at a strategy boundary: the cascades are
    * real fetch work (sitemap expansion, seed-page nav fetches) with their
    * own commits, so a pause that lands before/between them must stop HERE
    * rather than after minutes of discovery the caller asked to defer. */
  private def stopFlagged: Boolean =
    if (cancelRequested || stopRequested) { stoppedEarlyFlag = true; true }
    else false

  private def runResume(stopAfterFetchEpoch: Option[Int],
      stopAfterDiscoverDepth: Option[Int]): Unit = {
    io.lastCommitted match {
      case None =>
        if (stopFlagged) return
        cascadeSitemaps()
        if (stopFlagged) return
        cascadeNav()
        if (discoverFrom(0, bfsSeedLevel, stopAfterDiscoverDepth)) {
          fetchInit()
          fetchFrom(1, stopAfterFetchEpoch)
        }
      case Some(("sitemap", _)) =>
        if (stopFlagged) return
        cascadeNav()
        if (discoverFrom(0, bfsSeedLevel, stopAfterDiscoverDepth)) {
          fetchInit()
          fetchFrom(1, stopAfterFetchEpoch)
        }
      case Some(("nav", _)) =>
        if (discoverFrom(0, bfsSeedLevel, stopAfterDiscoverDepth)) {
          fetchInit()
          fetchFrom(1, stopAfterFetchEpoch)
        }
      case Some(("discover", d)) =>
        val nxt = io.read("level_next").get
        val done = if (!nxt.isEmpty) discoverFrom(d + 1, nxt, stopAfterDiscoverDepth) else true
        if (done) {
          fetchInit()
          fetchFrom(1, stopAfterFetchEpoch)
        }
      case Some(("fetch", e)) =>
        fetchFrom(e + 1, stopAfterFetchEpoch)
      case Some(("postprocess", _)) | Some(("complete", _)) =>
        () // crawl (+ post-scrape pipeline) complete; nothing to resume
      case Some((other, _)) =>
        throw new IllegalStateException(s"unknown phase $other")
    }
  }

  def orderLog: DataFrame = io.read("order_log").get
  def seen: DataFrame = io.read("seen").get
  def fetched: DataFrame = io.read("fetched").get
  def table(name: String): Option[DataFrame] = io.read(name)

  /** Last committed counters / (phase, epoch): both come from the
    * in-process cache (zero backend reads per poll — on Iceberg a backend
    * read is a Spark SQL query). Commits made around the engine (the
    * post-scrape `chunks` commit) refresh the caches via
    * [[noteExternalCommit]], so they show here too. */
  def counters: Map[String, Long] = {
    val c = countersCache
    if (c != null) c else io.lastCounters // pre-first-commit / resumed inspection
  }
  def phaseEpoch: Option[(String, Int)] = {
    val p = phaseEpochCache
    if (p != null) p else io.lastCommitted
  }

  /** Cumulative ok pages across this engine's fetch epochs — the
    * reference's in-memory `JobStatus.pages_completed` analog (survives
    * pause/resume on the same instance, resets with the process, like the
    * reference's Job object). No Spark job to read. */
  def pagesCompleted: Long = pagesOkTotal
}

object CrawlEngine {
  /** Every fetchMethod the chain can emit (A2 histogram domain): the five
    * chain levels (`Fetcher`), the warm-cache hit, and the SSRF gate.
    * The observation adds a `method_other` catch-all so a new level that
    * forgets to extend this list shows up in the ledger instead of
    * vanishing. */
  val knownMethods: Seq[String] =
    Seq("native", "proxy", "http_fast", "playwright", "cache", "ssrf_blocked", "none")

  /** Deadline for reading an Observation after its action completed.
    * Delivery is normally milliseconds behind the action (async listener
    * bus); the deadline only bites when the SQLExecutionEnd event was
    * dropped, where `Observation.get` would otherwise block forever. Each
    * caller has an explicit fallback, so a timeout costs one labeled job
    * (correctness-bearing reads) or a warned counter degrade — never a
    * hang and never a silently-wrong Bloom. */
  val observationWait: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.FiniteDuration(10, java.util.concurrent.TimeUnit.SECONDS)
}
