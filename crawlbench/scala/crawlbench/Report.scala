package crawlbench

/** The benchmark's output: a readable report, then one JSON line. */
object Report {
  /** End-to-end metrics with units, in report order. `url_fail_share` is not
    * among them: it is 0 on every correct run, so it is carried by the JSON's
    * `attempted`/`failed` counts instead. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "crawl_s" -> "s",
    "urls_per_s" -> "1/s",
    "first_page_s" -> "s",
    "epoch_ms_p50" -> "ms",
    "state_mb" -> "MB",
    "heap_retained_mb" -> "MB")

  private def med(xs: Seq[Double]): Double = Stats.median(xs).getOrElse(Double.NaN)

  def print(spec: WorkloadSpec, seed: Long, nproc: Int, setupS: Double,
      crawls: Seq[Runner.Crawl], traceMode: Boolean): Unit = {
    val untraced = crawls.filter(_.layers.isEmpty)
    val traced = crawls.filter(_.layers.nonEmpty)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "crawl_s" -> med(untraced.map(_.wallMs / 1000)),
      "urls_per_s" -> med(untraced.map(c => c.urls / (c.wallMs / 1000))),
      "first_page_s" -> med(untraced.map(_.firstPageMs / 1000)),
      "epoch_ms_p50" -> med(untraced.map(_.epochMsP50)),
      "state_mb" -> med(untraced.map(_.stateBytes / 1e6)),
      "heap_retained_mb" -> med(untraced.map(_.heapRetainedBytes / 1e6)))
    val attempted = crawls.map(_.expectedUrls).sum
    val failed = crawls.map(_.failedUrls).sum
    val correct = failed == 0

    val p = spec.params
    println(s"workload ${spec.name} seed $seed: hosts=${p.hosts} pagesPerHost=${p.pagesPerHost} " +
      s"skew=${p.skew} maxDepth=${spec.cfg.maxDepth} epochSeconds=${spec.cfg.epochSeconds} " +
      s"local[$nproc]; ${crawls.size} timed crawls (${traced.size} traced), " +
      s"${crawls.head.urls} URLs in ${crawls.head.fetchEpochs} fetch epochs per crawl")
    if (!traceMode) {
      println("end to end (median of crawls):")
      EndToEnd.foreach { case (k, u) => println(f"  $k%-16s ${e2e(k)}%12.4f $u") }
    }
    println(f"  ${"url_fail_share"}%-16s ${if (attempted > 0) failed.toDouble / attempted else 0.0}%12.4f share")

    val layerMetrics: Map[String, Double] =
      Layers.Units.map { case (k, _) => k -> med(traced.map(_.layers(k))) }.toMap
    if (traceMode) {
      val byWall = traced.sortBy(_.wallMs)
      val mid = byWall(byWall.size / 2)
      println(f"labels of the median traced crawl (crawl_s=${mid.wallMs / 1000}%.3f):")
      println(f"  ${"label"}%-44s ${"jobs"}%5s ${"wall_ms"}%8s ${"self_ms"}%8s " +
        f"${"task_ms"}%8s ${"shuffle_mb"}%10s ${"spill_mb"}%8s")
      mid.labels.foreach { r =>
        println(f"  ${r.label}%-44s ${r.jobs}%5d ${r.wallMs}%8d ${r.selfMs}%8d " +
          f"${r.taskMs}%8d ${r.shuffleMb}%10.3f ${r.spillMb}%8.3f")
      }
      println("per layer (median of traced crawls):")
      Layers.Units.foreach { case (k, u) => println(f"  $k%-36s ${layerMetrics(k)}%12.4f $u") }
    }

    val reported = if (traceMode) Layers.Units.map { case (k, u) => (k, layerMetrics(k), u) }
      else EndToEnd.map { case (k, u) => (k, e2e(k), u) }
    val metricsJson = reported.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$metricsJson}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
