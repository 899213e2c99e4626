package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.meta.Introspect
import org.apache.spark.sql.SparkSession

/** Collects what a run did, checks it, and renders the result line. */
final class Report(fleet: Fleet, tracer: Tracer) {
  import Report.Verdict
  import Workloads.median

  private val reads = ArrayBuffer[Outcome]()
  private val verdicts = ArrayBuffer[Verdict]()
  private val putMs = ArrayBuffer[Double]()
  private val compactBytes = ArrayBuffer[Long]()
  private val compactMs = ArrayBuffer[Double]()
  private var linesSent, malformedSent, duplicatesSent = 0L
  private var accepted, rejected = 0L

  var historyPoints = 0L
  var historyIngestS = 0.0
  var lastCommitted: Int = fleet.historyScrapes - 1
  var filesLive = 0
  var gcMs = 0.0
  var peakRssMb = 0.0
  var setupS = 0.0
  var setupParts: Map[String, Double] = Map.empty
  private var counters = Map.empty[String, Long]
  private var storeBytes = 0L
  private var storePoints = 0L

  def read(o: Outcome, minScrape: Int, maxScrape: Int): Unit = synchronized {
    reads += o
    Workloads.phase(f"${o.req.kind} request ${o.id}: late ${o.lateMs}%.0f ms, " +
      f"latency ${o.latencyMs}%.0f ms${o.error.fold("")(e => s", error $e")}")
    val failure = o.error.orElse(Check.wellFormed(o)).orElse(o.req match {
      case QueryReq(spec, _) if spec.checkable =>
        Check.query(fleet, spec, o.docs, minScrape)
      case r: LastReq => Check.last(fleet, r, o.docs.head, minScrape, maxScrape)
      case _ => None
    })
    verdicts += Verdict(s"${o.req.kind} request ${o.id}", failure)
  }

  def write(lines: Int, malformed: Int, duplicates: Int,
            r: Either[String, Store.PutResult], ms: Double): Unit = synchronized {
    linesSent += lines; malformedSent += malformed; duplicatesSent += duplicates
    putMs += ms
    r match {
      case Right(p) =>
        accepted += p.success; rejected += p.failed
        verdicts += Verdict("put batch",
          if (p.failed == malformed) None
          else Some(s"put summary failed=${p.failed}, injected $malformed"))
      case Left(e) => verdicts += Verdict("put batch", Some(e))
    }
  }

  def compacted(bytesRead: Long, ms: Double): Unit = synchronized {
    compactBytes += bytesRead
    compactMs += ms
  }

  private def check(what: String)(failure: => Option[String]): Unit =
    verdicts += Verdict(what, scala.util.Try(failure).fold(e => Some(e.toString), identity))

  /** After the timed window: the final compaction (ingest_serve), the
    * committed-point count, and the last point of every series. */
  def finalChecks(spark: SparkSession, built: Workloads.Built, streaming: Boolean): Unit = {
    val store = built.store
    if (streaming && putMs.nonEmpty) store.compact(3000000L, resume = false)
    storeBytes = store.diskBytes()
    storePoints = store.pointsDf().count()
    val unique = putMs.size.toLong * fleet.seriesCount
    check("committed points") {
      val want = historyPoints + unique
      if (storePoints == want) None
      else Some(s"store holds $storePoints points, expected $want " +
        s"($linesSent lines sent - $malformedSent malformed - $duplicatesSent duplicates)")
    }
    if (streaming) check("rejected lines") {
      if (rejected == malformedSent && accepted == linesSent - malformedSent) None
      else Some(s"rejected $rejected of $linesSent, injected $malformedSent")
    }
    check("last point of every series") {
      val json = Introspect.lastPointJson(Introspect.queryLast(store.pointsDf(),
        fleet.metrics.map(m => Introspect.LastPointSpec(m)), resolve = true,
        lastMeta = Some(store.lastMeta())))
      Check.lastOfAll(fleet, json, lastCommitted)
    }
    counters = Introspect.statsCounters(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def failures: Seq[Verdict] = verdicts.filter(_.failure.isDefined).toSeq

  private def latencies: Seq[Double] = reads.map(_.latencyMs).toSeq

  /** Points committed per second the writer spent putting and
    * compacting, over the first RateBatches batches, which every run
    * holds: batches get faster through a run as the write path warms,
    * so a rate over all of them would depend on how many fit. A
    * compaction's wait for the reads in flight is left out: that is
    * the reads' time, and it is in their latency. On dashboard it is
    * the set-up's history put. */
  def ingestRate: Double = {
    val n = math.min(putMs.size, Report.RateBatches)
    if (n == 0) historyPoints / historyIngestS
    else n * fleet.seriesCount / ((putMs.take(n).sum + compactMs.take(n).sum) / 1000)
  }

  def endToEnd: Seq[(String, Double, String)] = {
    Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", median(latencies), "ms"),
      ("ingest_points_per_s", ingestRate, "points/s"),
      ("bytes_per_point", storeBytes.toDouble / storePoints, "B"),
      ("peak_rss_mb", peakRssMb, "MB"))
  }

  def perLayer: Seq[(String, Double, String)] = {
    def med(name: String) = median(tracer.durationsMs(name))
    val served = reads.filter(_.error.isEmpty).toSeq
    val stats = served.map(o => tracer.group(s"req-${o.id}"))
    def perReq(f: Tracer.GroupStats => Long) =
      if (stats.isEmpty) 0.0 else stats.map(f).sum.toDouble / stats.size
    val scanned = served.filter(_.req.rawPoints > 0)
    val rawPoints = scanned.map(_.req.rawPoints).sum
    val hits = counters
    val cacheHits = hits.getOrElse("query.cache_hits", 0L)
    val lookups = cacheHits + hits.getOrElse("query.cache_misses", 0L)
    Seq(
      ("query.parse_ms", med("query.parse"), "ms"),
      ("engine.build_ms", med("engine.build"), "ms"),
      ("engine.plan_ms", med("engine.plan"), "ms"),
      ("engine.exec_ms", med("engine.exec"), "ms"),
      ("engine.cache_hit_ratio", if (lookups == 0) 0.0 else cacheHits.toDouble / lookups, "ratio"),
      ("engine.cache_lookups", lookups.toDouble, "count"),
      ("spark.jobs_per_request", perReq(_.jobs.get), "count"),
      ("spark.stages_per_request", perReq(_.stages.get), "count"),
      ("spark.tasks_per_request", perReq(_.tasks.get), "count"),
      ("spark.task_cpu_ms_per_request", perReq(_.cpuNs.get) / 1e6, "ms"),
      ("scan.records_per_point",
        if (rawPoints == 0) 0.0
        else scanned.map(o => tracer.group(s"req-${o.id}").recordsRead.get).sum.toDouble / rawPoints,
        "ratio"),
      ("scan.bytes_per_request", perReq(_.bytesRead.get), "B"),
      ("scan.files_per_request",
        if (scanned.isEmpty) 0.0 else scanned.map(_.files).sum.toDouble / scanned.size, "count"),
      ("shuffle.bytes_per_request", perReq(_.shuffleBytes.get), "B"),
      ("spill.bytes_per_request", perReq(_.spillBytes.get), "B"),
      ("ingest.files_live", filesLive.toDouble, "count"),
      ("ingest.parse_ms_per_batch", med("sources.parse"), "ms"),
      ("ingest.commit_ms_per_batch", median(tracer.streamBatchMs), "ms"),
      ("ingest.rejected_frac", if (linesSent == 0) 0.0 else rejected.toDouble / linesSent, "ratio"),
      ("meta.fold_ms_per_batch", med("meta.fold"), "ms"),
      ("meta.buckets_touched_per_batch", median(tracer.samples("meta.buckets_touched")), "count"),
      ("meta.last_ms", med("meta.last"), "ms"),
      ("compact.ms", med("sources.compact"), "ms"),
      ("compact.bytes_rewritten", if (compactBytes.isEmpty) 0.0
        else compactBytes.sum.toDouble / compactBytes.size, "B"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("loadgen.late_max_ms", (0.0 +: reads.map(_.lateMs).toSeq).max, "ms"),
      ("requests", reads.size.toDouble, "count"),
      ("put_batches", putMs.size.toDouble, "count")
    ) ++ setupParts.toSeq.sorted.map { case (k, v) => (k, v, "s") } ++
      endToEnd.map { case (k, v, u) => (s"traced.$k", v, u) }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def json(trace: Boolean): String = {
    val metrics = if (trace) perLayer else endToEnd
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val bad = failures
    bad.take(20).foreach(v => System.err.println(s"FAILED ${v.what}: ${v.failure.get}"))
    s"""{"correct": ${bad.isEmpty}, "attempted": ${verdicts.size}, """ +
      s""""failed": ${bad.size}, "metrics": {$body}}"""
  }

  def selfTimeTable: String = {
    val rows = tracer.selfTimes
    val total = rows.map(_._4).sum
    (f"${"span"}%-22s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"self%"}%6s" +:
      rows.map { case (n, c, t, s) =>
        f"$n%-22s $c%6d $t%10.1f $s%10.1f ${100 * s / math.max(total, 1e-9)}%6.1f"
      }).mkString("\n")
  }
}

object Report {
  /** Put batches (each with its compaction) the ingest rate is taken
    * over; the writer makes at least this many however long they take. */
  val RateBatches = 3

  /** A request or check, with the reason it failed if it did. */
  final case class Verdict(what: String, failure: Option[String])
}
