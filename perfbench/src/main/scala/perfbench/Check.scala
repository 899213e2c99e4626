package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/**
 * The correctness checker. It recomputes answers from the generator's
 * closed forms, never from the engine, and runs after the timed window.
 * Every function returns None when the answer is right and a reason
 * when it is not.
 */
object Check {
  private val mapper = new ObjectMapper()

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Expected `/api/query` answer: group tag value -> (ts s -> value),
    * given that scrapes up to `lastScrape` are committed. */
  def expected(f: Fleet, q: QuerySpec, lastScrape: Int): Map[String, Map[Long, Double]] = {
    val scrapes = f.scrapesIn(q.startMs, q.endMs, lastScrape)
    val groupOf: Int => String =
      if (q.groupBy == "host") f.host else f.dc
    (0 until f.hosts).groupBy(groupOf).map { case (g, hosts) =>
      val perSeries = hosts.map { h =>
        scrapes.groupBy(i => f.tsOf(i) - Fleet.floorMod(f.tsOf(i), q.dsMs))
          .map { case (b, is) =>
            val vs = is.map(i => f.value(q.metric, h, i))
            b -> (q.dsFn match {
              case "avg" => vs.sum / vs.size
              case "sum" => vs.sum
              case "max" => vs.max
              case "min" => vs.min
            })
          }
      }
      val buckets = perSeries.flatMap(_.keys).distinct
      g -> buckets.map { b =>
        val vs = perSeries.flatMap(_.get(b))
        (b / 1000) -> (q.agg match {
          case "sum" | "zimsum" => vs.sum
          case "avg" => vs.sum / vs.size
          case "max" => vs.max
        })
      }.toMap
    }
  }

  /** A response must be JSON documents whose dps are finite numbers. */
  def wellFormed(o: Outcome): Option[String] =
    if (o.docs.isEmpty) Some("empty response")
    else o.req match {
      case _: LastReq => None
      case _ =>
        val nodes = o.docs.map(mapper.readTree)
        val dps = nodes.flatMap(n => n.path("dps").fields().asScala.map(_.getValue))
        if (dps.isEmpty) Some("no data points")
        else if (dps.exists(v => !v.isNumber && !v.asText.matches("-?(Infinity|NaN)")))
          Some("non-numeric data point")
        else None
    }

  /** Compare a checkable query's documents with the closed form. */
  def query(f: Fleet, q: QuerySpec, docs: Seq[String], lastScrape: Int): Option[String] = {
    val want = expected(f, q, lastScrape)
    val got: Map[String, Map[Long, Double]] = docs.map(mapper.readTree).map { n =>
      n.path("tags").path(q.groupBy).asText() ->
        n.path("dps").fields().asScala.map(e => e.getKey.toLong -> e.getValue.asDouble).toMap
    }.toMap
    if (got.keySet != want.keySet)
      Some(s"groups ${got.keySet.toSeq.sorted} != ${want.keySet.toSeq.sorted}")
    else want.collectFirst {
      case (g, dps) if dps.keySet != got(g).keySet =>
        s"group $g: ${got(g).size} buckets, expected ${dps.size}"
      case (g, dps) if dps.exists { case (t, v) => !close(got(g)(t), v) } =>
        val (t, v) = dps.find { case (t, v) => !close(got(g)(t), v) }.get
        s"group $g at $t: ${got(g)(t)} != $v"
    }
  }

  /** A last-point answer: one entry per matching host, each the value
    * of a committed scrape in [minScrape, maxScrape]. */
  def last(f: Fleet, r: LastReq, json: String, minScrape: Int, maxScrape: Int): Option[String] = {
    val hosts = (0 until f.hosts).filter(h => f.tags(h)(r.tagk) == r.tagv)
    val got = mapper.readTree(json).elements().asScala.toVector
    if (got.size != hosts.size) Some(s"${got.size} series, expected ${hosts.size}")
    else got.collectFirst(Function.unlift { (n: JsonNode) =>
      val h = hosts.find(h => f.host(h) == n.path("tags").path("host").asText())
      val i = ((n.path("timestamp").asLong - f.t0Ms) / f.stepMs).toInt
      h match {
        case None => Some(s"unexpected series ${n.path("tags")}")
        case Some(_) if i < minScrape || i > maxScrape =>
          Some(s"last scrape $i outside [$minScrape, $maxScrape]")
        case Some(h) if !close(n.path("value").asText.toDouble, f.value(r.metric, h, i)) =>
          Some(s"${f.host(h)} value ${n.path("value").asText} != ${f.value(r.metric, h, i)}")
        case _ => None
      }
    })
  }

  /** Every series' last point is the generator's value at `lastScrape`. */
  def lastOfAll(f: Fleet, json: String, lastScrape: Int): Option[String] = {
    val got = mapper.readTree(json).elements().asScala.toVector
    val wrong = got.filterNot { n =>
      val m = f.metrics.indexOf(n.path("metric").asText)
      val h = (0 until f.hosts).find(h => f.host(h) == n.path("tags").path("host").asText)
      m >= 0 && h.isDefined &&
        n.path("timestamp").asLong == f.tsOf(lastScrape) &&
        close(n.path("value").asText.toDouble, f.value(m, h.get, lastScrape))
    }
    if (got.size != f.seriesCount) Some(s"${got.size} series, expected ${f.seriesCount}")
    else wrong.headOption.map(n => s"wrong last point $n")
  }
}
