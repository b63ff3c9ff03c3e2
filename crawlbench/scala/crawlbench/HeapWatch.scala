package crawlbench

import java.lang.management.ManagementFactory

/** Driver heap a finished crawl retains: heap occupancy after a full
  * collection at the crawl's end, while the engine and its cached fixture
  * frames are still referenced. The first collection lets Spark's
  * ContextCleaner drop the broadcasts and shuffles the crawl released; the
  * second, after it had time to, counts what is really still held.
  * (Occupancy after the young collections during a crawl is not a steady
  * measure of a peak: it includes whatever garbage the old generation has
  * not collected yet.) */
object HeapWatch {
  def retainedBytes(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
