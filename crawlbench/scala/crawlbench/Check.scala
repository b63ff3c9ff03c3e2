package crawlbench

import org.apache.spark.sql.SparkSession

import graft.epoch.CrawlEngine
import graft.sim.ReferenceSim

/** The correctness gate: one finished crawl against ReferenceSim, URL by URL.
  * A URL counts as failed when it is missing from or extra to the seen set,
  * sits at another position in its host's dispatch order, has another
  * disposition, or has another set of fetched image ids. */
object Check {
  final case class Result(expectedUrls: Long, failedUrls: Long, examples: Seq[String])

  def apply(spark: SparkSession, engine: CrawlEngine,
      expected: Map[String, ReferenceSim.HostResult]): Result = {
    import spark.implicits._
    val seen = engine.table("seen").map(_.select("host", "urlNorm").as[(String, String)]
      .collect().toSeq).getOrElse(Seq.empty)
    val log = engine.table("order_log").map(_.select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect().toSeq).getOrElse(Seq.empty)
    val images = engine.table("fetched").map(_.select("url", "image_id").as[(String, String)]
      .collect().toSeq).getOrElse(Seq.empty)
    val imagesByUrl = images.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val hosts = expected.keySet ++ seen.map(_._1) ++ log.map(_._1)
    var failed = 0L
    val examples = scala.collection.mutable.ArrayBuffer.empty[String]
    hosts.toSeq.sorted.foreach { host =>
      val exp = expected.getOrElse(host, ReferenceSim.HostResult(Seq.empty, Map.empty, Set.empty, Seq.empty))
      val gotSeen = seen.collect { case (`host`, u) => u }.toSet
      val gotLog = log.filter(_._1 == host).sortBy(_._2)
      val gotOrder = gotLog.map(_._3).zipWithIndex.toMap
      val gotDisp = gotLog.map(r => r._3 -> r._4).toMap
      val expOrder = exp.order.zipWithIndex.toMap
      val expImages = exp.fetchedImages.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val urls = exp.seen ++ exp.order ++ gotSeen ++ gotOrder.keySet ++
        expImages.keySet ++ imagesByUrl.keySet.filter(u => graft.util.PyUrl.host(u) == host)
      urls.foreach { u =>
        val why =
          if (exp.seen(u) != gotSeen(u)) Some(if (gotSeen(u)) "extra in seen" else "missing from seen")
          else if (expOrder.get(u) != gotOrder.get(u))
            Some(s"dispatch position ${gotOrder.get(u)} != ${expOrder.get(u)}")
          else if (exp.dispositions.get(u) != gotDisp.get(u))
            Some(s"disposition ${gotDisp.get(u)} != ${exp.dispositions.get(u)}")
          else if (expImages.getOrElse(u, Set.empty) != imagesByUrl.getOrElse(u, Set.empty))
            Some("fetched image set differs")
          else None
        why.foreach { w =>
          failed += 1
          if (examples.size < 5) examples += s"$u: $w"
        }
      }
    }
    Result(expected.values.map(r => (r.seen ++ r.order).size.toLong).sum, failed, examples.toSeq)
  }
}
