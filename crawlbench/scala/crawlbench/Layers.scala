package crawlbench

/** Per-layer metrics of one traced crawl, from the job trace, the TableIO
  * probe, the state dir's commit ledger and the loopback site's counters. */
final case class Layers(metrics: Map[String, Double], labels: Seq[Layers.LabelRow])

object Layers {
  import JobTrace.{exclusiveMs, unionMs, Unlabeled}

  /** The tables the engine commits; each gets a `sources.commit.<t>_ms`. */
  val Tables: Seq[String] = Seq("seen", "level_next", "host_counts", "pending", "dequeued",
    "order_log", "seen_content", "page_cache", "ledger", "fetched")

  /** Every per-layer metric name with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "epoch.jobs" -> "count",
    "epoch.jobs_per_fetch_epoch" -> "count",
    "epoch.driver_idle_ms" -> "ms",
    "epoch.task_ms" -> "ms",
    "epoch.core_util" -> "share",
    "epoch.shuffle_write_mb" -> "MB",
    "epoch.spill_mb" -> "MB",
    "epoch.discover_ms" -> "ms",
    "epoch.unlabeled_ms" -> "ms",
    "epoch.labeled_share" -> "share",
    "epoch.obs_degraded" -> "count",
    "operators.admit_ms" -> "ms",
    "operators.bloom_ms" -> "ms",
    "operators.prioritize_ms" -> "ms",
    "operators.dequeue_classify_ms" -> "ms",
    "sources.commits" -> "count",
    "sources.commit_ms" -> "ms") ++
    Tables.map(t => s"sources.commit.${t}_ms" -> "ms") ++ Seq(
    "sources.commit_mb" -> "MB",
    "sources.commit_files" -> "count",
    "sources.compact_ms" -> "ms",
    "sources.reads" -> "count",
    "sources.read_ms" -> "ms",
    "sources.http_requests" -> "count",
    "sources.http_requests_per_url" -> "count",
    "sources.http_inflight_max" -> "count",
    "sources.http_inflight_mean" -> "count",
    "sources.http_delay_ms" -> "ms",
    "sources.http_errors" -> "count",
    "functions.j7_rows" -> "count",
    "functions.j7_task_ms" -> "ms",
    "trace.crawl_ms" -> "ms",
    "trace.callback_ms" -> "ms")

  final case class LabelRow(label: String, jobs: Int, wallMs: Long, selfMs: Long,
      taskMs: Long, shuffleMb: Double, spillMb: Double)

  private val Mb = 1e6

  def apply(jobs: Seq[JobTrace.Job], startMs: Long, endMs: Long, nproc: Int,
      commits: Seq[TimedTableIO.Commit], io: TimedTableIO, urls: Long, j7Rows: Long,
      site: Option[LoopbackSite.Stats], ledger: Runner.Ledger): Layers = {
    def iv(js: Seq[JobTrace.Job]): Seq[(Long, Long)] = js.map { j =>
      val (s, e) = j.interval(endMs)
      (math.max(s, startMs), math.min(e, endMs))
    }
    def wallOf(p: String => Boolean): Double = unionMs(iv(jobs.filter(j => p(j.label)))).toDouble
    val wall = (endMs - startMs).toDouble
    val labeled = jobs.filter(_.label != Unlabeled)
    val unlabeled = jobs.filter(_.label == Unlabeled)
    val fetchCommits = commits.filter(_.isFetchEpoch)
    val fetch0End = commits.find(c => c.phase == "fetch" && c.epoch == 0).map(_.endMs)
    val jobsPerFetchEpoch = (fetch0End, fetchCommits.lastOption) match {
      case (Some(a), Some(last)) =>
        jobs.count(j => j.startMs > a && j.startMs <= last.endMs).toDouble / fetchCommits.size
      case _ => 0.0
    }
    val taskMs = jobs.map(_.taskMs).sum.toDouble
    val discoverEnd = commits.filter(c => Set("sitemap", "nav", "discover")(c.phase))
      .lastOption.map(_.endMs)
    // an Observation-sourced counter missing from a fetch commit means the
    // engine fell back (or degraded) for that epoch
    val degradedCommits = fetchCommits.count(c =>
      !Seq("dequeued", "pages_ok", "images").forall(c.counters.contains))
    val http = site.getOrElse(LoopbackSite.Stats(0L, 0L, 0L, 0, 0.0))

    val m = Map.newBuilder[String, Double]
    m += "epoch.jobs" -> jobs.size.toDouble
    m += "epoch.jobs_per_fetch_epoch" -> jobsPerFetchEpoch
    m += "epoch.driver_idle_ms" -> (wall - unionMs(iv(jobs)))
    m += "epoch.task_ms" -> taskMs
    m += "epoch.core_util" -> taskMs / (wall * nproc)
    m += "epoch.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / Mb
    m += "epoch.spill_mb" -> jobs.map(_.spillBytes).sum / Mb
    m += "epoch.discover_ms" -> discoverEnd.map(e => (e - startMs).toDouble).getOrElse(0.0)
    m += "epoch.unlabeled_ms" -> exclusiveMs(iv(unlabeled), iv(labeled)).toDouble
    m += "epoch.labeled_share" -> unionMs(iv(labeled)) / wall
    m += "epoch.obs_degraded" ->
      (degradedCommits + jobs.count(_.label.contains("(obs lost)"))).toDouble
    m += "operators.admit_ms" -> wallOf(l => l == "discover/* admit" ||
      l.startsWith("seen count:") || l.startsWith("level count:"))
    m += "operators.bloom_ms" -> wallOf(l => l.startsWith("bloom ") ||
      l.startsWith("admission: candidate bloom"))
    m += "operators.prioritize_ms" -> wallOf(_ == "fetch/* prioritize")
    m += "operators.dequeue_classify_ms" -> wallOf(_ == "fetch/* dequeue+fetch+classify")
    m += "sources.commits" -> commits.size.toDouble
    m += "sources.commit_ms" -> commits.map(_.ms).sum.toDouble
    Tables.foreach { t =>
      m += s"sources.commit.${t}_ms" -> wallOf(l => l.startsWith("commit ") && l.endsWith(" " + t))
    }
    m += "sources.commit_mb" -> ledger.bytes / Mb
    m += "sources.commit_files" -> ledger.files.toDouble
    m += "sources.compact_ms" -> fetchCommits.filter(_.tables("pending")).map(_.ms).sum.toDouble
    m += "sources.reads" -> io.reads.toDouble
    m += "sources.read_ms" -> io.readMs
    m += "sources.http_requests" -> http.requests.toDouble
    m += "sources.http_requests_per_url" -> (if (urls > 0) http.requests.toDouble / urls else 0.0)
    m += "sources.http_inflight_max" -> http.inflightMax.toDouble
    m += "sources.http_inflight_mean" -> http.inflightMean
    m += "sources.http_delay_ms" -> http.delayMs.toDouble
    m += "sources.http_errors" -> http.errors.toDouble
    m += "functions.j7_rows" -> j7Rows.toDouble
    m += "functions.j7_task_ms" ->
      jobs.filter(_.label == "commit fetch/* fetched").map(_.taskMs).sum.toDouble

    val byLabel = jobs.groupBy(_.label)
    val rows = byLabel.toSeq.map { case (label, js) =>
      val others = jobs.filter(_.label != label)
      LabelRow(label, js.size, unionMs(iv(js)), exclusiveMs(iv(js), iv(others)),
        js.map(_.taskMs).sum, js.map(_.shuffleBytes).sum / Mb, js.map(_.spillBytes).sum / Mb)
    }.sortBy(r => -r.wallMs)
    Layers(m.result(), rows)
  }
}
