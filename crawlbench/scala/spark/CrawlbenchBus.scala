package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view of a finished crawl is complete before it is read.
  * (`listenerBus` is package-private to Spark, hence this package.) */
object CrawlbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
