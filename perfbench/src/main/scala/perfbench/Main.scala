package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.Engine
import graft.operators.Rollups
import org.apache.spark.sql.SparkSession

/**
 * The benchmark program: builds a seeded fleet's history through the
 * engine's ingest path, runs one workload for a fixed time, checks the
 * answers, and prints the metrics as one JSON line (see perfbench/run.py,
 * which builds and launches it).
 */
object Main {
  // Fleet and history size: 16 hosts x 5 metrics, four hours of
  // 1-minute scrapes (19,200 points). Every put batch, fold and query costs the
  // engine seconds of fixed work, so this is what lets the set-up, the
  // timed window and the checks fit one run of about a minute on 4 cores.
  val Hosts = 16
  val Dcs = 4
  val RacksPerDc = 2
  val StepSec = 60
  val HistoryScrapes = 240
  val RollupMs = 3600000L

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    require(Workloads.names.contains(args.workload),
      s"unknown workload ${args.workload}; one of ${Workloads.names.mkString(", ")}")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      // Ingest.compact replaces the sink's directory, metadata log
      // included; a resumed sink must never compact its log, which reads
      // back the entries that went with it.
      .config("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Workloads.phase(f"session started in $sessionS%.1f s")
    val tracer = new Tracer(args.trace)
    if (tracer.enabled) spark.sparkContext.addSparkListener(tracer.sparkListener)
    val fleet = Fleet(args.seed, Hosts, Dcs, RacksPerDc, StepSec, HistoryScrapes)
    val report =
      try Workloads.run(spark, fleet, tracer, args, sessionS)
      finally spark.stop()
    Workloads.phase("session stopped")
    if (tracer.enabled) {
      val dir = Files.createDirectories(args.work.resolve("trace"))
      tracer.writeSpans(dir.resolve("spans.jsonl"))
      Files.writeString(dir.resolve("selftime.txt"), report.selfTimeTable + "\n")
    }
    println(report.json(args.trace))
  }
}

/** The workloads, their set-up and their metrics. */
object Workloads {
  import Main._

  val names = Seq("dashboard", "ingest_serve")

  /** A fixed cap per request; a cancelled request counts as failed. */
  val TimeoutMs = 20000L
  /** dashboard: one panel is due every PanelEveryMs, on up to
    * PanelClients threads so a slow panel does not hold up the next. */
  val PanelEveryMs = 3000L
  val PanelClients = 4
  val WarmupClients = 4
  /** ingest_serve: one read every ReadEveryMs on ReadClients threads,
    * lines injected per batch, and batches between compactions. */
  val ReadEveryMs = 2000L
  val ReadClients = 2
  val MalformedPerBatch = 4
  val DuplicatesPerBatch = 4
  val CompactEvery = 1

  final case class Built(store: Store, rollups: Seq[Engine.RollupTable])

  /** One set-up: history through the sink and meta fold, compaction,
    * and the 1h rollup. Returns the store and the seconds each step took. */
  def setUp(spark: SparkSession, fleet: Fleet, tracer: Tracer,
            dir: Path, keepStreaming: Boolean): (Built, Map[String, Double]) = {
    def secs[T](f: => T): (T, Double) = {
      val s = System.nanoTime(); val r = f; (r, (System.nanoTime() - s) / 1e9)
    }
    val (store, ingestS) = secs {
      val st = new Store(spark, dir, tracer)
      val r = st.put((0 until fleet.historyScrapes).iterator.flatMap(fleet.scrape), -1L)
      val want = fleet.seriesCount.toLong * fleet.historyScrapes
      if (r.success != want || r.failed != 0)
        sys.error(s"history put: ${r.success} accepted, ${r.failed} failed; sent $want valid lines")
      st
    }
    val (_, compactS) = secs(store.compact(-1L, resume = keepStreaming))
    val rollupDir = dir.resolve("rollup_1h").toString
    val (rollup, rollupS) = secs {
      tracer.span("operators.rollup", -1L) {
        Rollups.materialize(store.pointsDf(), RollupMs).write.parquet(rollupDir)
      }
      spark.read.parquet(rollupDir)
    }
    val built = Built(store,
      Seq(Engine.RollupTable(RollupMs, rollup, horizonMs = fleet.historyEndMs)))
    (built, Map("ingest" -> ingestS, "compact" -> compactS, "rollup" -> rollupS))
  }

  def run(spark: SparkSession, fleet: Fleet, tracer: Tracer, args: Args,
          sessionS: Double): Report = {
    val streaming = args.workload == "ingest_serve"
    val (built, parts) = tracer.span("setup", -1L)(setUp(spark, fleet, tracer,
      args.work.resolve("store"), keepStreaming = streaming))
    phase(f"set-up took ${parts.values.sum}%.1f s")
    val requests = new Requests(spark, fleet, tracer, TimeoutMs)
    val nowMs = fleet.historyEndMs + fleet.stepMs
    val report = new Report(fleet, tracer)
    // The first request of each shape pays for its code generation and
    // JIT; the warm-up sends each shape once so the timed window sees
    // the engine warm.
    val warmupS = {
      val s = System.nanoTime()
      tracer.span("setup.warmup", -1L) {
        if (streaming) IngestServe.warmup(fleet, built, requests)
        else Dashboard.warmup(fleet, built, requests, nowMs)
      }
      (System.nanoTime() - s) / 1e9
    }
    phase(f"warm-up took $warmupS%.1f s")
    val setupS = sessionS + parts.values.sum + warmupS
    val gc0 = gcMs()
    try {
      if (streaming) IngestServe.run(fleet, built, requests, args, report)
      else Dashboard.run(fleet, built, requests, args, report, nowMs)
      report.gcMs = gcMs() - gc0
      report.peakRssMb = peakRssMb()
      phase("timed window done")
      report.finalChecks(spark, built, streaming)
      phase("checks done")
    } finally {
      requests.close()
      built.store.stop()
    }
    report.setupS = setupS
    report.setupParts = Map(
      "setup.ingest_s" -> parts("ingest"),
      "setup.compact_s" -> parts("compact"),
      "setup.rollup_s" -> parts("rollup"),
      "setup.warmup_s" -> warmupS,
      "setup.session_s" -> sessionS)
    report.historyIngestS = parts("ingest")
    report
  }

  private val jvmStart = System.nanoTime()

  /** Offsets (ns) of a fixed period inside a window of `seconds`. */
  def periods(seconds: Int, everyMs: Long): Seq[Long] =
    (0L until seconds * 1000L by everyMs).map(_ * 1000000L)

  /** Progress on standard error, with seconds since start. */
  def phase(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - jvmStart) / 1e9}%7.1f s: $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Run `task(i, dueNs, sentNs)` on a fixed pool of `clients` at the
    * given due offsets (ns from now), late sends included; returns every
    * result once all have finished. Offsets are drawn one at a time, so
    * an iterator may end on a condition checked as the loop goes. */
  def openLoop[T](offsets: Iterator[Long], clients: Int)
                 (task: (Int, Long, Long) => T): Vector[T] = {
    val pool = Executors.newFixedThreadPool(clients)
    val start = System.nanoTime()
    try {
      val futures = offsets.zipWithIndex.map { case (off, i) =>
        val due = start + off
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val sent = System.nanoTime()
        pool.submit(new Callable[T] { def call(): T = task(i, due, sent) })
      }.toVector
      futures.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(TimeoutMs * 2, TimeUnit.MILLISECONDS)
    }
  }
}

/**
 * dashboard: short `/api/query` panels and last-point lookups in a fixed
 * 2:1 pattern, one due every PanelEveryMs; each slot draws its panel
 * with Zipf repetition from 35 distinct panels with absolute ranges.
 *
 * Arrivals are periodic, not Poisson, and spaced so that panels seldom
 * overlap: a run fits about six requests on the current engine, and
 * when panels queued behind each other or contended for the four cores
 * (a 2-panel page every 3 s), the median latency moved by 26% between
 * seeds.
 */
object Dashboard {
  import Main.Args
  import Workloads._

  private val HourMs = 3600000L

  /** Panel families, in the order the slot pattern names them. */
  def families(f: Fleet): Map[Char, Vector[Req]] = {
    val end = f.historyEndMs + f.stepMs // one past the last scrape
    def window(rangeMs: Long, back: Int, alignMs: Long): (Long, Long) = {
      val s = end - rangeMs - back * alignMs
      (s - Fleet.floorMod(s, alignMs), s - Fleet.floorMod(s, alignMs) + rangeMs - 1)
    }
    def q(spec: QuerySpec): Req = QueryReq(spec, rawPoints(f, spec.startMs, spec.endMs))
    val gauges = Fleet.Gauges.indices
    val counters = Fleet.Gauges.size until f.metrics.size
    Map(
      // 1h per-host lines, 1m averages
      'A' -> (for (m <- gauges; back <- 0 until 3) yield {
        val (s, e) = window(HourMs, back * 10, 60000L)
        q(QuerySpec(m, "zimsum", 60000L, "avg", "host", s, e))
      }).toVector,
      // 3h per-dc sums of 5m peaks
      'B' -> (for (m <- gauges; back <- 0 until 2) yield {
        val (s, e) = window(3 * HourMs, back * 6, 300000L)
        q(QuerySpec(m, "sum", 300000L, "max", "dc", s, e))
      }).toVector,
      // 1h per-host counter rates
      'C' -> (for (m <- counters; back <- 0 until 2) yield {
        val (s, e) = window(HourMs, back * 15, 60000L)
        q(QuerySpec(m, "sum", 60000L, "avg", "host", s, e, rate = true))
      }).toVector,
      // 3h per-host 5m averages, lerp avg across series
      'D' -> (for (m <- gauges; back <- 0 until 2) yield {
        val (s, e) = window(3 * HourMs, back * 3, 300000L)
        q(QuerySpec(m, "avg", 300000L, "avg", "host", s, e))
      }).toVector,
      // last point of one host, or of every host in a dc
      'L' -> (for (m <- f.metrics.indices; sel <- 0 until 2) yield {
        if (sel == 0) LastReq(m, "host", f.host((m * 5) % f.hosts))
        else LastReq(m, "dc", f.dc(m % f.dcs))
      }).toVector)
  }

  /** Raw points of one metric over every host in [s, e]. */
  def rawPoints(f: Fleet, s: Long, e: Long): Long =
    f.scrapesIn(s, e, f.historyScrapes - 1).size.toLong * f.hosts

  /** Panel families of consecutive panel slots: 4 query panels and 2
    * last-point lookups, a slow panel followed by a fast one. */
  val Pattern = "ACLBDL"

  /** One request of every family's shape, over ranges from the start
    * of the history, which no timed panel asks for (a result cache
    * keeps no warm-up answer the timed window could hit). */
  def warmupRequests(f: Fleet): Seq[Req] = {
    def q(spec: QuerySpec): Req = QueryReq(spec, rawPoints(f, spec.startMs, spec.endMs))
    def from0(rangeMs: Long) = (f.t0Ms, f.t0Ms + rangeMs - 1)
    val (s1, e1) = from0(HourMs)
    val (s3, e3) = from0(3 * HourMs)
    val counter = Fleet.Gauges.size
    Seq(q(QuerySpec(0, "zimsum", 60000L, "avg", "host", s1, e1)),
      q(QuerySpec(1, "sum", 300000L, "max", "dc", s3, e3)),
      q(QuerySpec(counter, "sum", 60000L, "avg", "host", s1, e1, rate = true)),
      q(QuerySpec(2, "avg", 300000L, "avg", "host", s3, e3)),
      LastReq(1, "dc", f.dc(0)))
  }

  /** Sends the warm-up requests, WarmupClients at a time. */
  def warmup(f: Fleet, built: Built, requests: Requests, nowMs: Long): Unit = {
    val reqs = warmupRequests(f)
    openLoop(reqs.iterator.map(_ => 0L), WarmupClients) { (i, due, sent) =>
      requests.send(reqs(i), -2L - i, due, sent, () => built.store.pointsDf(),
        () => built.store.lastMeta(), built.rollups, nowMs)
    }.foreach(o => o.error.foreach(e => sys.error(s"warm-up ${o.req.kind} request failed: $e")))
  }

  def run(fleet: Fleet, built: Built, requests: Requests, args: Args,
          report: Report, nowMs: Long): Unit = {
    val fam = families(fleet)
    val rnd = new Random(args.seed * 31 + 7)
    // a seeded popularity order per family, then Zipf(1.1) over it
    val order: Map[Char, Vector[Int]] =
      fam.map { case (c, v) => c -> rnd.shuffle(v.indices.toVector) }
    def zipf(n: Int): Int = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      var u = rnd.nextDouble() * w.sum
      w.indexWhere { x => u -= x; u <= 0 } match { case -1 => n - 1; case k => k }
    }
    val due = Workloads.periods(args.seconds, PanelEveryMs)
    val schedule = due.indices.map { i =>
      val c = Pattern(i % Pattern.length)
      fam(c)(order(c)(zipf(fam(c).size)))
    }
    val points = built.store.pointsDf()
    val meta = built.store.lastMeta()
    val outcomes = openLoop(due.iterator, PanelClients) {
      (i, due, sent) => requests.send(schedule(i), i.toLong, due, sent, () => points,
        () => meta, built.rollups, nowMs)
    }
    outcomes.foreach(o => report.read(o, fleet.historyScrapes - 1, fleet.historyScrapes - 1))
    report.historyPoints = fleet.seriesCount.toLong * fleet.historyScrapes
  }
}

/**
 * ingest_serve: a collector writing one fleet scrape per put batch in a
 * closed loop, with a fixed number of malformed and duplicate lines,
 * compaction every few batches, and readers polling the newest 15
 * minutes in an open loop.
 */
object IngestServe {
  import Main.Args
  import Workloads._

  /** The lines of write batch `k` (scrape historyScrapes + k), seeded
    * order, with the injected malformed and duplicate lines. */
  def batch(f: Fleet, k: Int): Vector[String] = {
    val i = f.historyScrapes + k
    val valid = f.scrape(i).toVector
    val rnd = new Random(f.seed * 1000003L + k)
    val malformed = (0 until MalformedPerBatch).map { j =>
      val m = f.metrics(j % f.metrics.size)
      if (j % 2 == 0) s"put $m ${f.tsOf(i) / 1000} not-a-number host=${f.host(j)}"
      else s"put $m ${f.tsOf(i) / 1000} 1"
    }
    val dups = (0 until DuplicatesPerBatch).map(_ => valid(rnd.nextInt(valid.size)))
    rnd.shuffle(valid ++ malformed ++ dups)
  }

  /** Commit put batch `k` and advance `clock` to its scrape, then
    * compact when due. */
  def writeBatch(fleet: Fleet, store: Store, report: Report, k: Int,
                 clock: AtomicInteger): Unit = {
    val lines = batch(fleet, k)
    val t = System.nanoTime()
    val r = try Right(store.put(lines.iterator, 1000000L + k))
      catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t) / 1e6
    report.write(lines.size, MalformedPerBatch, DuplicatesPerBatch, r, ms)
    phase(f"put $k took $ms%.0f ms")
    clock.set(fleet.historyScrapes + k)
    if ((k + 1) % CompactEvery == 0) {
      val tc = System.nanoTime()
      val c = store.compact(2000000L + k, resume = true)
      val cms = (System.nanoTime() - tc) / 1e6
      report.compacted(c.bytesRead, cms - c.lockWaitMs)
      phase(f"compaction took $cms%.0f ms, ${c.lockWaitMs}%.0f ms of it waiting for reads")
    }
  }

  /** One read of the newest 15 minutes as of the last committed scrape;
    * returns the outcome and that scrape. */
  def read(fleet: Fleet, built: Built, requests: Requests, clock: AtomicInteger,
           i: Int, due: Long, sent: Long): (Outcome, Int) =
    built.store.reading {
      val c0 = clock.get
      val e = fleet.tsOf(c0)
      val s = e - 15 * 60000L + fleet.stepMs
      val req = QueryReq(QuerySpec(math.floorMod(i, Fleet.Gauges.size), "zimsum", 60000L,
        "avg", "host", s, e), 15L * fleet.hosts)
      (requests.send(req, i.toLong, due, sent, () => built.store.pointsDf(),
        () => built.store.lastMeta(), built.rollups, fleet.tsOf(c0) + fleet.stepMs), c0)
    }

  /** One read: the first after set-up pays for its code generation
    * and JIT. (The set-up's history put has warmed the write path.) */
  def warmup(fleet: Fleet, built: Built, requests: Requests): Unit = {
    val now = System.nanoTime()
    read(fleet, built, requests, new AtomicInteger(fleet.historyScrapes - 1), -2, now, now)
      ._1.error.foreach(e => sys.error(s"warm-up read failed: $e"))
  }

  def run(fleet: Fleet, built: Built, requests: Requests, args: Args,
          report: Report): Unit = {
    val clock = new AtomicInteger(fleet.historyScrapes - 1)
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val writer = Executors.newSingleThreadExecutor()
    val writes = writer.submit(new Callable[Unit] {
      def call(): Unit = {
        var k = 0
        while (System.nanoTime() < deadline || k < Report.RateBatches) {
          writeBatch(fleet, built.store, report, k, clock)
          k += 1
        }
      }
    })
    // Reads are newest-15-min queries only: last-point lookups beside
    // the writer must wait out each meta fold, and those waits swung
    // the median and p90 by 27% and 65% between seeds.
    // Readers poll for as long as the writer writes (its last batch may
    // end after the window), so no batch is timed without reads beside it.
    val readsDue = Iterator.iterate(0L)(_ + ReadEveryMs * 1000000L).takeWhile(_ => !writes.isDone)
    val reads = openLoop(readsDue, ReadClients) {
      (i, due, sent) => read(fleet, built, requests, clock, i, due, sent)
    }
    writes.get()
    writer.shutdown()
    report.filesLive = built.store.dataFiles().size
    reads.foreach { case (o, c0) => report.read(o, c0, c0) }
    report.historyPoints = fleet.seriesCount.toLong * fleet.historyScrapes
    report.lastCommitted = clock.get
  }
}
