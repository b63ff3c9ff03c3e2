package crawlbench

import org.apache.spark.scheduler._

/** The epoch/operators/functions-layer probe: a SparkListener that keys every
  * job on the description the engine (`described(...)`) or TableIO
  * (`commit $phase/$epoch $table`) set when it was submitted, and sums the
  * executor time, shuffle bytes and spill of that job's tasks. Installed only
  * for traced crawls; the end-to-end crawls run without it.
  */
final class JobTrace extends SparkListener {
  import JobTrace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val callbackNanos = new java.util.concurrent.atomic.AtomicLong()

  /** Time spent in this listener's callbacks: the work tracing adds. */
  def callbackMs: Double = callbackNanos.get / 1e6

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).orNull
    jobs.put(e.jobId, new Job(label(desc), e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach { j =>
        j.synchronized {
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Jobs that started inside [fromMs, toMs], in start order. Call after the
    * listener bus drained ([[org.apache.spark.CrawlbenchBus.drain]]). */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .toSeq.sortBy(_.startMs)
  }
}

object JobTrace {
  val Unlabeled = "(unlabeled)"

  final class Job(val label: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var taskMs = 0L
    var shuffleBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    def interval(untilMs: Long): (Long, Long) =
      (startMs, if (endMs >= 0) endMs else untilMs)
  }

  /** Epoch and depth numbers are folded out so one label names one step of
    * every epoch: `commit fetch/3 order_log` and `commit fetch/4 order_log`
    * share a label. A null description, or the job group's own default, is
    * unlabeled. */
  def label(desc: String): String =
    if (desc == null || desc.isEmpty || desc == "graft crawl engine") Unlabeled
    else desc.replaceAll("/\\d+", "/*")

  /** Total length of the union of intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the union of `a` minus its overlap with the union of `b`. */
  def exclusiveMs(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    unionMs(a ++ b) - unionMs(b)
}
