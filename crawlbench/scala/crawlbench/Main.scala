package crawlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.CrawlbenchBus
import org.apache.spark.sql.SparkSession

import graft.sources.ParquetSnapshotTableIO

/** Crawl-engine benchmark: one workload, one seed, crawls repeated for a
  * fixed time on a fresh state dir each, every crawl checked against
  * ReferenceSim. Prints a report and, as its last line, one JSON object.
  *
  * {{{
  * Main --workload crawl_large --seed 1 --seconds 25 --trace 0 --work <dir>
  * }}}
  *
  * Each run measures the first crawl in a fresh JVM (and more if `--seconds`
  * leaves room). `--trace 0` reports the end-to-end metrics of untraced
  * crawls; `--trace 1` traces every crawl and reports the per-layer metrics,
  * the label breakdown, and the time the trace itself took.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spec = WorkloadSpec(args.workload, args.seed)
    val nproc = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.work)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"crawlbench-${spec.name}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try run(spark, spec, args, nproc, sessionS)
    finally spark.stop()
  }

  private def run(spark: SparkSession, spec: WorkloadSpec, args: Args, nproc: Int,
      sessionS: Double): Unit = {
    val workload = new Workload(spark, spec, nproc)
    try {
      val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      println(f"setup: session $sessionS%.3f s, fixtures+reference ${setupS - sessionS}%.3f s")
      val runner = new Runner(spark, workload, nproc, args.work)
      val crawls = scala.collection.mutable.ArrayBuffer.empty[Runner.Crawl]
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      while (crawls.isEmpty || elapsedS + crawls.last.wallMs / 1000 <= args.seconds) {
        crawls += runner.crawl(traced = args.trace)
        val c = crawls.last
        println(f"crawl ${crawls.size}%d${if (args.trace) " (traced)" else ""}%s: " +
          f"crawl_s=${c.wallMs / 1000}%.3f urls=${c.urls}%d fetch_epochs=${c.fetchEpochs}%d " +
          f"failed_urls=${c.failedUrls}%d")
      }
      Report.print(spec, args.seed, nproc, setupS, crawls.toSeq, args.trace)
    } finally workload.close()
  }
}

/** Runs and measures single crawls. */
final class Runner(spark: SparkSession, workload: Workload, nproc: Int, work: Path) {
  import Runner._

  private var count = 0

  def crawl(traced: Boolean): Crawl = {
    count += 1
    val dir = work.resolve(s"state-$count")
    deleteRecursively(dir)
    val io = new TimedTableIO(new ParquetSnapshotTableIO(spark, dir.toString))
    val trace = if (traced) Some(new JobTrace) else None
    val sc = spark.sparkContext
    trace.foreach(sc.addSparkListener)
    workload.site.foreach(_.reset())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val engine = workload.newEngine(io)
    engine.run()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val heapRetained = HeapWatch.retainedBytes()
    val site = workload.site.map(_.stats)
    trace.foreach { t => CrawlbenchBus.drain(sc); sc.removeSparkListener(t) }

    // everything below is outside the timed window
    val stateBytes = dirBytes(dir)
    val urls = engine.table("order_log").map(_.count()).getOrElse(0L)
    val j7Rows = engine.table("fetched").map(_.count()).getOrElse(0L)
    val result = Check(spark, engine, workload.expected)
    if (result.failedUrls > 0)
      println(s"MISMATCH ${result.failedUrls} of ${result.expectedUrls} URLs, e.g. " +
        result.examples.mkString("; "))
    val commits = io.commits
    val fetchCommits = commits.filter(_.isFetchEpoch)
    val fetchEnds = commits.filter(_.phase == "fetch").map(_.endMs)
    val epochIntervals = fetchEnds.zip(fetchEnds.drop(1)).map { case (a, b) => (b - a).toDouble }
    val invalidImages = fetchCommits.map(_.counters.getOrElse("invalid_rows", 0L)).sum
    val transportErrors = site.map(_.errors).getOrElse(0L)
    val ledger = commitLedger(dir)
    val layers = trace.map { t =>
      Layers(t.jobsBetween(startMs, endMs), startMs, endMs, nproc, commits, io, urls, j7Rows,
        site, ledger)
    }
    deleteRecursively(dir)
    Crawl(
      wallMs = wallMs,
      urls = urls,
      fetchEpochs = fetchCommits.size,
      firstPageMs = fetchCommits.headOption.map(c => (c.endMs - startMs).toDouble).getOrElse(wallMs),
      epochMsP50 = Stats.median(epochIntervals).getOrElse(wallMs),
      stateBytes = stateBytes,
      heapRetainedBytes = heapRetained,
      expectedUrls = result.expectedUrls,
      failedUrls = result.failedUrls + transportErrors + invalidImages,
      layers = layers.map(_.metrics ++ Map("trace.crawl_ms" -> wallMs,
        "trace.callback_ms" -> trace.get.callbackMs)).getOrElse(Map.empty),
      labels = layers.map(_.labels).getOrElse(Seq.empty))
  }
}

object Runner {
  final case class Crawl(wallMs: Double, urls: Long, fetchEpochs: Int, firstPageMs: Double,
      epochMsP50: Double, stateBytes: Long, heapRetainedBytes: Long, expectedUrls: Long,
      failedUrls: Long, layers: Map[String, Double], labels: Seq[Layers.LabelRow])

  /** Sums of `bytes_commit` and `files_commit` over the state dir's
    * `commits.jsonl` ledger. */
  final case class Ledger(bytes: Long, files: Long)

  private val BytesField = "\"bytes_commit\":(\\d+)".r
  private val FilesField = "\"files_commit\":(\\d+)".r

  def commitLedger(dir: Path): Ledger = {
    val f = dir.resolve("commits.jsonl")
    if (!Files.exists(f)) Ledger(0L, 0L)
    else {
      import scala.jdk.CollectionConverters._
      val lines = Files.readAllLines(f).asScala.toSeq
      def sum(re: scala.util.matching.Regex) =
        lines.flatMap(l => re.findFirstMatchIn(l).map(_.group(1).toLong)).sum
      Ledger(sum(BytesField), sum(FilesField))
    }
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum
      finally s.close()
    }

  def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }
}
