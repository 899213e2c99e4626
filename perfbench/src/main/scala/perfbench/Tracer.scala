package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Spans and counts recorded from outside the engine, around the calls
 * the benchmark makes into each layer's public functions. Disabled, a
 * span is a plain call and nothing is kept.
 *
 * Spark work is attributed to requests through job groups: every
 * request runs under its own group (see [[Requests]]), and the listener
 * sums jobs, stages, tasks and task metrics per group.
 */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counts = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val t0Ns: Long = System.nanoTime()

  def span[T](name: String, req: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val start = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), req, name, start,
          System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Record one sample of a named count (kept only when tracing). */
  def count(name: String, v: Double): Unit =
    if (enabled)
      counts.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def samples(name: String): Vector[Double] =
    Option(counts.get(name)).map(_.asScala.toVector).getOrElse(Vector.empty)

  def allSpans: Vector[Span] = spans.asScala.toVector.sortBy(_.startNs)

  /** Durations (ms) of every span with this name. */
  def durationsMs(name: String): Vector[Double] =
    allSpans.filter(_.name == name).map(_.ms)

  /** Per span name: calls, total ms and self ms (duration minus the
    * part of it that child spans cover). */
  def selfTimes: Vector[(String, Int, Double, Double)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toVector.map { case (name, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map { s =>
        s.ms - coveredMs(children.getOrElse(s.id, Vector.empty), s)
      }.sum
      (name, ss.size, total, self)
    }.sortBy(-_._4)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"request":${s.req},""" +
        f""""name":"${s.name}","start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0Ns) / 1e6}%.3f}""")
      w.write('\n')
    } finally w.close()
  }

  // ---- Spark's public listener APIs, per job group ------------------

  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val batchMs = new ConcurrentLinkedQueue[Double]()

  def group(g: String): GroupStats =
    Option(groups.get(g)).getOrElse(GroupStats())

  /** Trigger durations of stream batches that carried input rows. */
  def streamBatchMs: Vector[Double] = batchMs.asScala.toVector

  val sparkListener: SparkListener = new SparkListener {
    private def groupOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

    private def stats(g: String): GroupStats =
      groups.computeIfAbsent(g, _ => GroupStats())

    override def onJobStart(e: SparkListenerJobStart): Unit =
      groupOf(e.properties).foreach(stats(_).jobs.incrementAndGet())

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf(e.properties).foreach { g =>
        stageGroup.put(e.stageInfo.stageId, g)
        stats(g).stages.incrementAndGet()
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val s = stats(g)
        s.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs.addAndGet(m.executorCpuTime)
          s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
          s.bytesRead.addAndGet(m.inputMetrics.bytesRead)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        Option(e.progress.durationMs.get("triggerExecution"))
          .foreach(d => batchMs.add(d.doubleValue))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class GroupStats(
      jobs: AtomicLong = new AtomicLong, stages: AtomicLong = new AtomicLong,
      tasks: AtomicLong = new AtomicLong, cpuNs: AtomicLong = new AtomicLong,
      recordsRead: AtomicLong = new AtomicLong, bytesRead: AtomicLong = new AtomicLong,
      shuffleBytes: AtomicLong = new AtomicLong, spillBytes: AtomicLong = new AtomicLong)

  /** Length (ms) of the union of the children's intervals inside `s`. */
  private def coveredMs(kids: Vector[Span], s: Span): Double = {
    val iv = kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1e6
  }

  /** Files the response's scans opened, read off its executed plan
    * (adaptive stages and subqueries included). */
  object Scans extends AdaptiveSparkPlanHelper {
    def filesRead(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }
}
