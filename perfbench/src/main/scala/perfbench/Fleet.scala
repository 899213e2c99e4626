package perfbench

/**
 * A seeded devops fleet: `hosts` machines spread over data centres and
 * racks, each reporting every metric once per `stepSec` scrape. Every
 * value is a pure function of (seed, series, scrape index), so the
 * checker can recompute any answer without keeping the points.
 *
 * All series are scraped at the same aligned timestamps, which gives
 * cross-series sum, zimsum, avg and max closed forms (no interpolation
 * is ever needed).
 */
final case class Fleet(seed: Long, hosts: Int, dcs: Int, racksPerDc: Int,
                       stepSec: Int, historyScrapes: Int) {
  import Fleet._

  val metrics: Vector[String] = Gauges ++ Counters
  val stepMs: Long = stepSec * 1000L
  /** Timestamp (ms) of scrape 0. */
  val t0Ms: Long = StartSec * 1000L
  def tsOf(i: Int): Long = t0Ms + i * stepMs
  /** Last history scrape's timestamp (ms). */
  val historyEndMs: Long = tsOf(historyScrapes - 1)

  def host(h: Int): String = f"web$h%03d"
  def dc(h: Int): String = s"dc${h % dcs}"
  def rack(h: Int): String = s"r${(h / dcs) % racksPerDc}"
  def tags(h: Int): Map[String, String] =
    Map("host" -> host(h), "dc" -> dc(h), "rack" -> rack(h))

  def seriesCount: Int = metrics.size * hosts
  private def sid(m: Int, h: Int): Long = m.toLong * 100003L + h

  /** Gauge values are tenths: an integer count rendered with one
    * decimal, so the put line and the double the checker uses name the
    * same value. */
  def gaugeTenths(m: Int, h: Int, i: Int): Long =
    ((m * 7 + h % 5) * 100) + floorMod(mix(seed, sid(m, h), i), 1000L)

  /** Monotonic integer counter that resets every `period` scrapes. */
  def counter(m: Int, h: Int, i: Int): Long = {
    val s = sid(m, h)
    val period = 1500 + floorMod(mix(seed, s, -1), 2000L).toInt
    val phase = floorMod(mix(seed, s, -2), period.toLong).toInt
    val perStep = 100 + floorMod(mix(seed, s, -3), 900L)
    perStep * ((i + phase) % period) + floorMod(mix(seed, s, i), 50L)
  }

  def isCounter(m: Int): Boolean = m >= Gauges.size

  /** The value as a double, exactly as the engine parses its put text. */
  def value(m: Int, h: Int, i: Int): Double =
    if (isCounter(m)) counter(m, h, i).toDouble
    else gaugeTenths(m, h, i) / 10.0

  def valueText(m: Int, h: Int, i: Int): String =
    if (isCounter(m)) counter(m, h, i).toString
    else {
      val t = gaugeTenths(m, h, i)
      s"${t / 10}.${t % 10}"
    }

  def putLine(m: Int, h: Int, i: Int): String =
    s"put ${metrics(m)} ${tsOf(i) / 1000} ${valueText(m, h, i)} " +
      s"host=${host(h)} dc=${dc(h)} rack=${rack(h)}"

  /** One scrape of the whole fleet, as put lines. */
  def scrape(i: Int): Iterator[String] =
    for (m <- metrics.indices.iterator; h <- (0 until hosts).iterator)
      yield putLine(m, h, i)

  /** Scrape indices whose timestamp lies in [startMs, endMs]. */
  def scrapesIn(startMs: Long, endMs: Long, lastScrape: Int): Range = {
    val lo = math.max(0L, ceilDiv(startMs - t0Ms, stepMs)).toInt
    val hi = math.min(lastScrape.toLong, floorDiv(endMs - t0Ms, stepMs)).toInt
    lo to hi
  }
}

object Fleet {
  val Gauges: Vector[String] = Vector("sys.cpu.user", "sys.mem.used", "sys.disk.busy")
  val Counters: Vector[String] = Vector("net.bytes.in", "net.bytes.out")
  /** 2023-11-14T00:00:00Z, a day boundary. */
  val StartSec: Long = 1699920000L

  def floorMod(a: Long, b: Long): Long = java.lang.Math.floorMod(a, b)
  def floorDiv(a: Long, b: Long): Long = java.lang.Math.floorDiv(a, b)
  def ceilDiv(a: Long, b: Long): Long = -java.lang.Math.floorDiv(-a, b)

  /** SplitMix64 finalizer over the three inputs. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
