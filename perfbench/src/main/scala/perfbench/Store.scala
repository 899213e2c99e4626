package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.ReentrantReadWriteLock

import graft.meta.MetaStore
import graft.model.Points
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * One points store fed through the engine's public ingest path: put
 * lines land as files in an inbox that a text stream source reads, the
 * `Ingest.streamToParquet` sink commits them, `Ingest.putSummary`
 * answers the put request's success/failed counts, the accepted points
 * fold into the last-write meta store (`MetaStore.foldLastWrite`), and
 * `Ingest.compact` rewrites the small files the sink leaves behind.
 */
final class Store(spark: SparkSession, val dir: Path, tracer: Tracer) {
  private val PointCols = Points.schema.fieldNames.toSeq.map(col)
  val inbox: Path = dir.resolve("inbox")
  val points: String = dir.resolve("points").toString
  val meta: String = dir.resolve("meta").toString
  private val checkpoint = dir.resolve("checkpoint").toString
  private val staging = dir.resolve("staging")
  Files.createDirectories(inbox)
  Files.createDirectories(staging)

  private val streamSession = {
    val s = Ingest.streamSession(spark)
    if (tracer.enabled) s.streams.addListener(tracer.streamListener)
    s
  }
  private var query: StreamingQuery = start()
  private var batches = 0

  // `Ingest.compact` deletes and renames the points directory, so a
  // concurrent scan fails on a file that vanished. Readers share this
  // lock and compaction holds it exclusively, so reads wait for it as a
  // server would. (`MetaStore.foldLastWrite` likewise overwrites meta
  // buckets in place; no read of the meta store runs beside a fold.)
  private val pointsLock = new ReentrantReadWriteLock(true)

  private def locked[T](l: java.util.concurrent.locks.Lock)(f: => T): T = {
    l.lock()
    try f finally l.unlock()
  }

  /** Run a read of the points table. */
  def reading[T](f: => T): T = locked(pointsLock.readLock)(f)

  /** One `/api/put` request: commit the lines through the sink, count
    * them for the request's summary, and fold the accepted points into
    * the meta store. */
  def put(lines: Iterator[String], reqId: Long): Store.PutResult = {
    val name = f"batch-$batches%06d.txt"
    batches += 1
    val staged = staging.resolve(name)
    val w = Files.newBufferedWriter(staged)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    // the stream source must only ever see complete files
    Files.move(staged, inbox.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    tracer.span("sources.commit", reqId) { query.processAllAvailable() }
    val parsed = Ingest.parsePutLines(spark.read.text(inbox.resolve(name).toString))
    val counts = tracer.span("sources.parse", reqId)(Ingest.putSummary(parsed).collect()(0))
    val accepted = Ingest.applyWriteFilter(
      parsed.filter(col("_error").isNull).select(PointCols: _*))
    val touched =
      tracer.span("meta.fold", reqId)(MetaStore.foldLastWrite(spark, meta, accepted))
    tracer.count("meta.buckets_touched", touched.size)
    Store.PutResult(counts.getLong(0), counts.getLong(1), touched.size)
  }

  /** Rewrite the sink's small files with the stream stopped, then
    * resume it from its checkpoint if asked. Returns the bytes the
    * rewrite read and the time it waited for the points table.
    *
    * `Ingest.compact` reads the directory through the sink's metadata
    * log when one exists, and a sink resumed after an earlier
    * compaction logs only its new files, so compacting would drop the
    * files compacted before. The log is removed first so the rewrite
    * lists every file (see also the session's sink-log setting in
    * Main). */
  def compact(reqId: Long, resume: Boolean): Store.Compaction = {
    val before = diskBytes()
    query.stop()
    val asked = System.nanoTime()
    val waitedNs = locked(pointsLock.writeLock) {
      val got = System.nanoTime()
      Workloads.deleteTree(dir.resolve("points").resolve("_spark_metadata"))
      tracer.span("sources.compact", reqId) { Ingest.compact(spark, points) }
      got - asked
    }
    if (resume) query = start()
    Store.Compaction(before, waitedNs / 1e6)
  }

  def stop(): Unit = query.stop()

  private def start(): StreamingQuery =
    Ingest.streamToParquet(streamSession,
      streamSession.readStream.text(inbox.toString), points, checkpoint).start()

  /** The canonical points table, listed afresh (new commits included).
    * The date directories are read directly: after `Ingest.compact` the
    * sink's metadata log no longer lists the compacted files. Read that
    * way, the file of a batch the sink is still writing is listed too;
    * it is skipped as unreadable, and it only holds points newer than
    * any committed clock a reader asks about. */
  def pointsDf(): DataFrame =
    spark.read.option("basePath", points).option("ignoreCorruptFiles", "true")
      .parquet(s"$points/date=*").select(PointCols: _*)

  def lastMeta(): DataFrame = MetaStore.read(spark, meta)

  /** On-disk bytes of the points store's data files. */
  def diskBytes(): Long = dataFiles().map(Files.size).sum

  def dataFiles(): Seq[Path] = {
    val root = dir.resolve("points")
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toVector
      } finally s.close()
    }
  }

}

object Store {
  /** What one put request reports back. */
  final case class PutResult(success: Long, failed: Long, bucketsTouched: Int)
  /** What one compaction read, and how long it waited for the reads in
    * flight to release the points table. */
  final case class Compaction(bytesRead: Long, lockWaitMs: Double)
}
