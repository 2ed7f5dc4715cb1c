package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.config.PipelineConfig

/** One finished in-run read. `dueMs` is when the open-loop schedule
  * wanted it; latency is counted from there. */
final case class ReadDone(kind: String, req: String, dueMs: Double,
    startMs: Double, planMs: Double, endMs: Double, resultRows: Long,
    partialDirs: Long, failed: Boolean)

/** The result of one run: correctness counts and named metrics. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

/** Runs one workload of one route: repeated set-up, an open-loop
  * measured phase (one generator thread and one reader thread, with the
  * summing store compacted between segments of it), a fixed drain
  * backlog, and the final checks against the generator's ledger. */
final class Harness(spark: SparkSession, route: Route, seed: Long,
    seconds: Int, traced: Boolean, work: String) {
  val SetupRuns = 3
  val WarmTicks = 3
  /** The drain backlog is published in rounds, each drained before the
    * next; the run reports the median round's rate. */
  val DrainRounds = 3
  val DrainTicks = 30

  val trace = new Trace(traced)
  val probes = new Probes(spark, traced)
  private val traffic = new Traffic(seed)

  private def cfgFor(tag: String): PipelineConfig = {
    val cfg = PipelineConfig(topicsRoot = s"$work/$tag/topics",
      warehouseRoot = s"$work/$tag/wh")
    Files.createDirectories(Paths.get(cfg.topicDir("event_tracking")))
    cfg
  }

  /** Makes files visible: each is written under a hidden temp name,
    * then all are renamed into place atomically, so a backlog appears
    * within a millisecond. The ledger learns the counts before any file
    * can be read. */
  private def publish(cfg: PipelineConfig, ticks: Seq[Tick], ledger: Ledger): Unit = {
    val dir = Paths.get(cfg.topicDir("event_tracking"))
    val staged = ticks.map { t =>
      val tmp = dir.resolve(s".${t.name}.tmp")
      Files.write(tmp, t.bytes)
      ledger.add(t.counts)
      tmp -> dir.resolve(t.name)
    }
    staged.foreach { case (tmp, dst) =>
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def renderAll(prefix: String, n: Int, r: SplittableRandom): IndexedSeq[Tick] =
    (0 until n).map(k => route.render(traffic, f"tick-$prefix-$k%06d.json", r,
      route.eventsPerTick, if (n > 1) k.toDouble / (n - 1) else 0.0))

  private def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
      left = ns - System.nanoTime()
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally walk.close()
  }

  private def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  private def partialDirs(cfg: PipelineConfig): Long = {
    val store = Paths.get(cfg.tablePath("daily"))
    if (!Files.isDirectory(store)) 0L else {
      val ls = Files.list(store)
      try ls.filter(_.getFileName.toString.startsWith("batch=")).count()
      finally ls.close()
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** One read: plan, execute, check. Exceptions count as failures. */
  private def doRead(cfg: PipelineConfig, kind: String, req: String,
      dueMs: Double, r: SplittableRandom, ledger: Option[Ledger],
      seen: mutable.Map[String, Long]): ReadDone = {
    val dirs = partialDirs(cfg)
    val t0 = Clock.ms()
    var planMs = 0.0
    var rows = 0L
    val failed = try trace.span(s"query.$kind", req) { id =>
      val (arg, df) = trace.span(s"query.$kind.plan", req, id) { _ =>
        val built = route.read(spark, cfg, kind, traffic, r)
        built._2.queryExecution.executedPlan
        built
      }
      planMs = Clock.ms() - t0
      probes.tagRead(df.queryExecution, req)
      val result = trace.span(s"query.$kind.execute", req, id)(_ => df.collect())
      rows = result.length
      ledger.exists(l => route.checkRead(kind, arg, result, l, seen) > 0)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] read $req failed: $e")
      true
    }
    ReadDone(kind, req, dueMs, t0, planMs, Clock.ms(), rows, dirs, failed)
  }

  /** Starts the pipeline on fresh directories, feeds it the warm-up files
    * and issues one read of each kind: the cold start a user pays before
    * the first fresh result. Returns the seconds it took. */
  private def setUp(tag: String, warm: Seq[Tick], ledger: Ledger,
      r: SplittableRandom): (Double, Supervised, PipelineConfig) = {
    val cfg = cfgFor(tag)
    val t0 = System.nanoTime()
    val q = new Supervised(() =>
      trace.span("pipeline.start", tag)(_ => route.start(spark, cfg)))
    warm.foreach(t => publish(cfg, Seq(t), ledger))
    q.processAllAvailable()
    route.readKinds.foreach(k =>
      doRead(cfg, k, s"$tag-$k", Clock.ms(), r, None, mutable.Map.empty))
    ((System.nanoTime() - t0) / 1e9, q, cfg)
  }

  private val born = System.nanoTime()
  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $name")

  def run(): Outcome = {
    val r = new SplittableRandom(seed)
    val nTicks = seconds * route.ticksPerSecond
    val warm = (0 until SetupRuns).map(i => renderAll(s"w$i", WarmTicks, r))
    val measured = renderAll("m", nTicks, r)
    val drain = (0 until DrainRounds).map(i => renderAll(s"d$i", DrainTicks, r))

    phase("inputs rendered")
    // -- set-up, several times; the last one stays up for the measurement
    val ledger = new Ledger
    val setups = (0 until SetupRuns).map { i =>
      val last = i == SetupRuns - 1
      val (secs, q, cfg) = setUp(s"setup$i", warm(i),
        if (last) ledger else new Ledger, r)
      if (!last) { q.stop(); deleteTree(Paths.get(s"$work/setup$i")) }
      (secs, q, cfg)
    }
    val (_, q, cfg) = setups.last

    phase("set-up done")
    // -- measured phase: open-loop generator and reader. A route with a
    // store to compact runs it in segments of compactEverySeconds of
    // offered load; between two segments the stream catches up, no read
    // runs, and the store is compacted. Compaction never overlaps an
    // append or a read, because the program publishes the store's
    // markers by delete-then-rename on Hadoop's local file system
    // (perfbench/README.md, "Known program defect").
    HeapWatch.reset()
    val gc0 = gcMs
    probes.window.set(true)
    val periodNs = 1000000000L / route.ticksPerSecond
    val segmentTicks = route.compactEverySeconds.fold(nTicks)(_ * route.ticksPerSecond)
    val dueMs = new Array[Double](nTicks)
    val visibleMs = new Array[Double](nTicks)
    val genLateMs = new Array[Double](nTicks)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) }, name)
      t.setDaemon(true); t.start(); t
    }
    val reads = new ConcurrentLinkedQueue[ReadDone]()
    val readPeriodNs = (1e9 / route.readsPerSecond).toLong
    val rr = new SplittableRandom(seed * 31 + 7)
    val seen = mutable.Map.empty[String, Long]
    var nReads = 0
    val compactMs = mutable.ArrayBuffer.empty[Double]
    var compactFailures = 0
    val t0 = System.nanoTime() + 100000000L
    var segmentNs = t0
    for (from <- 0 until nTicks by segmentTicks) {
      val until = math.min(from + segmentTicks, nTicks)
      val s0 = segmentNs
      val endNs = s0 + (until - from) * periodNs
      (from until until).foreach(k => dueMs(k) = Clock.msAt(s0 + (k - from) * periodNs))
      val generator = thread("perfbench-generator") {
        (from until until).foreach { k =>
          sleepUntil(s0 + (k - from) * periodNs)
          genLateMs(k) = Clock.ms() - dueMs(k)
          trace.span("gen.tick", k.toString)(_ => publish(cfg, Seq(measured(k)), ledger))
          visibleMs(k) = Clock.ms()
        }
      }
      val reader = thread("perfbench-reader") {
        var due = s0 + readPeriodNs / 2
        while (due < endNs) {
          sleepUntil(due)
          val kind = route.readKinds(nReads % route.readKinds.size)
          reads.add(doRead(cfg, kind, s"read-$nReads", Clock.msAt(due), rr,
            Some(ledger), seen))
          nReads += 1
          due += readPeriodNs
        }
      }
      while (generator.isAlive) { q.revive(); generator.join(20) }
      reader.join()
      q.processAllAvailable()
      if (until < nTicks && route.compactEverySeconds.isDefined) {
        val c0 = Clock.ms()
        try {
          trace.span("agg.compact", s"compact-${compactMs.size}")(_ =>
            route.compact(spark, cfg))
          compactMs += Clock.ms() - c0
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] compaction failed: $e")
          compactFailures += 1
        }
      }
      segmentNs = System.nanoTime() + 100000000L
    }
    val windowEndMs = Clock.ms()
    probes.window.set(false)
    val gcWindowMs = gcMs - gc0

    phase("measured phase done")
    // -- drain: fixed backlogs, each published at once
    val drainRates = drain.map { round =>
      val d0 = System.nanoTime()
      publish(cfg, round, ledger)
      q.processAllAvailable()
      round.map(_.lines).sum / ((System.nanoTime() - d0) / 1e9)
    }
    val peakHeapMb = HeapWatch.peakMb
    q.stop()
    errors.asScala.headOption.foreach(e => throw e)

    phase("drain done")
    // -- freshness: tick due time -> commit of the batch that read it
    val fileBatch = SourceLog.fileBatches(
      s"${cfg.checkpointDir(route.queryName)}/sources/0")
    probes.awaitBatch(q.id, fileBatch.values.maxOption.getOrElse(0L))
    val batches = probes.batchesOf(q.id)
    val commitMs = batches.map(b => b.id -> b.endMs).toMap
    val fresh = measured.indices.flatMap { k =>
      fileBatch.get(measured(k).name).flatMap(commitMs.get).map(_ - dueMs(k))
    }
    val missingTicks = measured.indices.count(k =>
      fileBatch.get(measured(k).name).flatMap(commitMs.get).isEmpty)

    // -- final state against the ledger
    val state = route.finalState(spark, cfg)
    val expected = route.finalPrefixes.flatMap(ledger.withPrefix).toMap
    val keys = state.keySet ++ expected.keySet
    val mismatch = keys.toSeq.map(k =>
      math.abs(state.getOrElse(k, 0L) - expected.getOrElse(k, 0L))).sum
    val readList = reads.asScala.toSeq
    val failedReads = readList.count(_.failed)
    val published = warm.last ++ measured ++ drain.flatten
    val events = published.map(_.lines.toLong).sum
    val attempted = events + readList.size
    val failed = mismatch + failedReads + q.crashes.get + compactFailures
    val bytes = route.tables.map(t => treeBytes(Paths.get(cfg.tablePath(t)))).sum
    val latencies = readList.map(d => d.endMs - d.dueMs)
    if (missingTicks > 0)
      System.err.println(s"[perfbench] $missingTicks ticks without a committed batch")

    val endToEnd = Seq(
      ("setup_s", Stats.median(setups.map(_._1)), "s"),
      ("freshness_p50_ms", Stats.pct(fresh, 0.50), "ms"),
      ("freshness_p99_ms", Stats.pct(fresh, 0.99), "ms"),
      ("read_p50_ms", Stats.pct(latencies, 0.50), "ms"),
      ("read_p95_ms", Stats.pct(latencies, 0.95), "ms"),
      ("drain_events_per_s", Stats.median(drainRates), "1/s"),
      ("bytes_per_event", bytes.toDouble / events, "B"),
      ("peak_heap_mb", peakHeapMb, "MiB"))
    phase("checks done")
    System.err.println(s"[perfbench] ${route.name} seed=$seed ticks=${fresh.size} " +
      s"reads=${readList.size} batches=${batches.size} failed=$failed " +
      endToEnd.map(m => s"${m._1}=${Stats.num(m._2)}").mkString(" "))

    val metrics =
      if (!traced) endToEnd
      else new Layers(route, trace, probes, batches, measured,
        visibleMs, genLateMs, fileBatch, readList, compactMs.toSeq,
        t0, windowEndMs, gcWindowMs, state, expected).metrics ++
        endToEnd.map { case (n, v, u) => (s"traced.$n", v, u) }
    Outcome(failed == 0, attempted, failed, metrics)
  }
}

/** Keeps a route's streaming query running. A query that dies is
  * counted as a failed batch and restarted from its checkpoint, the way
  * a supervisor restarts a crashed consumer, so one fault costs what it
  * costs a user instead of ending the run. */
final class Supervised(startQuery: () => StreamingQuery) {
  val MaxRestarts = 20
  @volatile private var q = startQuery()
  val crashes = new AtomicInteger()
  /** Stable across restarts from the same checkpoint. */
  def id: String = q.id.toString

  def revive(): Unit = synchronized {
    if (!q.isActive) {
      q.exception.foreach(e =>
        System.err.println(s"[perfbench] stream died: ${e.getMessage.take(400)}"))
      if (crashes.incrementAndGet() > MaxRestarts)
        throw new IllegalStateException("stream keeps dying; giving up")
      q = startQuery()
    }
  }

  def processAllAvailable(): Unit = {
    var done = false
    while (!done) {
      try { q.processAllAvailable(); done = true }
      catch { case _: StreamingQueryException => revive() }
    }
  }

  def stop(): Unit = q.stop()
}

/** The file source's committed log: which batch read which file. */
object SourceLog {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  def fileBatches(dir: String): Map[String, Long] = {
    val ls = Files.list(Paths.get(dir))
    val logs = try ls.iterator().asScala.toList finally ls.close()
    logs.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap { line =>
        for {
          p <- PathRe.findFirstMatchIn(line)
          b <- BatchRe.findFirstMatchIn(line)
        } yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }
}

object Stats {
  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Peak of the heap left live after a collection, from the collectors'
  * notifications: the retained memory, not how full eden got. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.NotificationEmitter
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, live) }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
}
