package perfbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.Engine
import graft.meta.Introspect
import graft.query.JsonQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One `/api/query` panel. `groupBy` is the tag grouped on with `*`. */
final case class QuerySpec(metric: Int, agg: String, dsMs: Long, dsFn: String,
                           groupBy: String, startMs: Long, endMs: Long,
                           rate: Boolean = false,
                           percentiles: Seq[Double] = Seq.empty) {
  def dsText: String = s"${dsMs / 60000}m-$dsFn"

  def body(f: Fleet): String = {
    val rate = if (!this.rate) "" else
      ""","rate":true,"rateOptions":{"counter":true,"dropResets":true}"""
    val ptiles = if (percentiles.isEmpty) "" else
      s""","percentiles":[${percentiles.mkString(",")}]"""
    s"""{"start":$startMs,"end":$endMs,"queries":[{"aggregator":"$agg",""" +
      s""""metric":"${f.metrics(metric)}","downsample":"$dsText",""" +
      s""""tags":{"$groupBy":"*"}$rate$ptiles}]}"""
  }

  /** Closed-form answers exist for these: every series is scraped at
    * the same instants, so no interpolation enters the aggregate. */
  def checkable: Boolean = !rate && percentiles.isEmpty &&
    Set("sum", "zimsum", "avg", "max").contains(agg)
}

/** A request the benchmark sends, and what its answer is checked
  * against. `rawPoints` counts the generated points inside the ranges
  * it asks for (0 for meta reads). */
sealed trait Req {
  def kind: String
  def rawPoints: Long
}
final case class QueryReq(spec: QuerySpec, rawPoints: Long) extends Req {
  def kind = "query"
}
/** `/api/query/last` for one metric over the hosts a tag pair matches. */
final case class LastReq(metric: Int, tagk: String, tagv: String) extends Req {
  def kind = "last"
  def rawPoints = 0L
}

/** What came back: JSON documents, or the error that replaced them. */
final case class Outcome(req: Req, id: Long, dueNs: Long, sentNs: Long,
                         endNs: Long, docs: Seq[String], error: Option[String],
                         files: Long = 0L) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  /** How late the load generator sent it (queueing excluded). */
  def lateMs: Double = (sentNs - dueNs) / 1e6
}

/**
 * Sends requests into the engine's public entry points, each under its
 * own Spark job group so a request that outlives `timeoutMs` is
 * cancelled (and counted failed) without stopping the run.
 */
final class Requests(spark: SparkSession, fleet: Fleet, tracer: Tracer,
                     timeoutMs: Long) {
  private val sc = spark.sparkContext
  private val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "perfbench-timeout"); t.setDaemon(true); t
    })

  def close(): Unit = watchdog.shutdownNow()

  /** Run `req` against the given tables; it was due at `dueNs` and
    * handed to a client at `sentNs`. */
  def send(req: Req, id: Long, dueNs: Long, sentNs: Long, points: () => DataFrame,
           lastMeta: () => DataFrame, rollups: Seq[Engine.RollupTable],
           nowMs: Long): Outcome = {
    val group = s"req-$id"
    val timedOut = new AtomicBoolean(false)
    sc.setJobGroup(group, req.kind, interruptOnCancel = true)
    val cancel = watchdog.schedule((() => {
      timedOut.set(true); sc.cancelJobGroup(group)
    }): Runnable, timeoutMs, TimeUnit.MILLISECONDS)
    try {
      val (docs, files) = tracer.span("request", id)(serve(req, id, points,
        lastMeta, rollups, nowMs))
      Outcome(req, id, dueNs, sentNs, System.nanoTime(), docs, None, files)
    } catch {
      case e: Throwable =>
        val why = if (timedOut.get) s"timed out after $timeoutMs ms" else e.toString
        Outcome(req, id, dueNs, sentNs, System.nanoTime(), Nil, Some(why))
    } finally {
      cancel.cancel(false)
      sc.clearJobGroup()
    }
  }

  private def serve(req: Req, id: Long, points: () => DataFrame,
                    lastMeta: () => DataFrame, rollups: Seq[Engine.RollupTable],
                    nowMs: Long): (Seq[String], Long) = req match {
    case QueryReq(spec, _) =>
      val body = spec.body(fleet)
      if (tracer.enabled) tracer.span("query.parse", id)(JsonQuery.parse(body, nowMs))
      collect(id, tracer.span("engine.build", id)(
        Engine.serializeJson(points(), body, nowMs, rollups)))
    case LastReq(m, k, v) =>
      val json = tracer.span("meta.last", id) {
        Introspect.lastPointJson(Introspect.queryLast(points(),
          Seq(Introspect.LastPointSpec(fleet.metrics(m), Map(k -> v))),
          backScan = 0, resolve = true, now = nowMs, lastMeta = Some(lastMeta())))
      }
      (Seq(json), 0L)
  }

  private def collect(id: Long, df: DataFrame): (Seq[String], Long) = {
    if (tracer.enabled) tracer.span("engine.plan", id)(df.queryExecution.executedPlan)
    val rows = tracer.span("engine.exec", id)(df.collect())
    (rows.map(_.getString(0)).toSeq,
      if (tracer.enabled) Tracer.Scans.filesRead(df) else 0L)
  }
}
