package crawlbench

import org.apache.spark.sql.DataFrame

import graft.sources.TableIO

/** The sources-layer probe: a [[TableIO]] that forwards to the real backend
  * and records, from outside, when each commit started and returned, which
  * tables it wrote, the manifest counters it published, and how long each
  * snapshot read took. Timestamps are `System.currentTimeMillis` so they line
  * up with Spark listener event times. Cheap enough to stay on in untraced
  * and traced crawls alike (two clock reads and one manifest read per commit).
  */
final class TimedTableIO(inner: TableIO) extends TableIO {
  import TimedTableIO._

  private val commitLog = scala.collection.mutable.ArrayBuffer.empty[Commit]
  private var readCount = 0L
  private var readNanos = 0L

  override def commit(phase: String, epoch: Int, tables: Map[String, DataFrame],
      appends: Map[String, DataFrame], counters: => Map[String, Long]): Unit = {
    val start = System.currentTimeMillis()
    inner.commit(phase, epoch, tables, appends, counters)
    val end = System.currentTimeMillis()
    commitLog += Commit(phase, epoch, tables.keySet, appends.keySet, start, end,
      inner.lastCounters)
  }

  override def read(table: String): Option[DataFrame] = {
    val t0 = System.nanoTime()
    try inner.read(table)
    finally { readCount += 1; readNanos += System.nanoTime() - t0 }
  }

  override def lastCommitted: Option[(String, Int)] = inner.lastCommitted
  override def lastCounters: Map[String, Long] = inner.lastCounters

  def commits: Seq[Commit] = commitLog.toSeq
  def reads: Long = readCount
  def readMs: Double = readNanos / 1e6
}

object TimedTableIO {
  final case class Commit(phase: String, epoch: Int, tables: Set[String],
      appends: Set[String], startMs: Long, endMs: Long, counters: Map[String, Long]) {
    def ms: Long = endMs - startMs
    def isFetchEpoch: Boolean = phase == "fetch" && epoch >= 1
  }
}
