package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are wall-clock
  * milliseconds (fractional), so spans built from Spark's progress
  * reports and spans timed in the harness share one axis. `layer` is
  * the name up to the first dot. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Disabled, it records nothing and `span`
  * only runs the body; enabled, spans stay in memory until [[write]]. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)

  /** Records a finished interval; returns its id (0 when disabled). */
  def add(name: String, req: String, startMs: Double, endMs: Double,
      parent: Long = 0): Long =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.synchronized { spans += Span(id, parent, name, req, startMs, endMs) }
      id
    }

  /** Times `body` as one span; the body receives the span's id so it can
    * parent nested spans. */
  def span[T](name: String, req: String, parent: Long = 0)(
      body: Long => T): T = {
    val id = if (enabled) ids.incrementAndGet() else 0L
    val t0 = Clock.ms()
    try body(id)
    finally if (enabled) {
      val t1 = Clock.ms()
      spans.synchronized { spans += Span(id, parent, name, req, t0, t1) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer inside [fromMs, toMs]: each span's duration
    * minus the part of it its children cover. */
  def selfMsByLayer(fromMs: Double, toMs: Double): Map[String, Double] = {
    val kept = all.filter(s => s.startMs >= fromMs && s.startMs <= toMs)
    val children = kept.groupBy(_.parent)
    kept.groupMapReduce(_.layer) { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var union = 0.0
      var reach = Double.NegativeInfinity
      covered.foreach { case (a, b) =>
        if (b > reach) { union += b - math.max(a, reach); reach = b }
      }
      s.durMs - union
    }(_ + _)
  }

  def write(path: String): Unit = if (enabled) {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = all.sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""req":${q(s.req)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

/** One wall clock with sub-millisecond steps: the epoch offset is read
  * once and advanced by the monotonic clock, so intervals never go
  * backwards and still line up with Spark's wall-clock timestamps. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def ms(): Double = originMs + (System.nanoTime() - originNs) / 1e6
  def msAt(nanoTime: Long): Double = originMs + (nanoTime - originNs) / 1e6
}
