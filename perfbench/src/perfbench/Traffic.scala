package perfbench

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

/** One pre-rendered topic file: its JSON lines and what the ledger
  * expects the program to make of them. */
final case class Tick(name: String, bytes: Array[Byte], lines: Int,
    counts: Map[String, Long])

/** What the generator has published so far, keyed the way the checks
  * read it back. Counts are added before a file becomes visible, so a
  * read can never legitimately see more than the ledger holds. */
final class Ledger {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(counts: Map[String, Long]): Unit = counts.foreach { case (k, v) =>
    m.computeIfAbsent(k, _ => new LongAdder).add(v)
  }
  def get(k: String): Long = Option(m.get(k)).fold(0L)(_.sum())
  def withPrefix(p: String): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    m.forEach((k, v) => if (k.startsWith(p)) out(k) = v.sum())
    out.toMap
  }
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded event traffic for both reference routes. Campaign ids follow a
  * Zipf law, 1% of lines are malformed JSON, and each route adds its own
  * awkward share: out-of-domain event types for Part 1, late events for
  * Part 2. */
final class Traffic(seed: Long) {
  val levels: Array[String] =
    Array("delivered", "open", "click", "bounce", "unsubscribe")
  private val levelCdf = Array(0.40, 0.65, 0.80, 0.90, 1.0)
  val campaigns: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.fill(500)(new java.util.UUID(r.nextLong(), r.nextLong()).toString)
  }
  val campaignZipf = new Zipf(campaigns.length, 1.1)
  private val workspaces = Array.tabulate(8)(i =>
    new java.util.UUID(seed, i.toLong).toString)
  private val firstDay = LocalDate.of(2026, 8, 10)
  private val isoMicros =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def level(r: SplittableRandom): String = {
    val u = r.nextDouble()
    levels(levelCdf.indexWhere(u < _))
  }

  /** Part 1 wire events: event_time uniform over five days, 1% of lines
    * carry an event_type outside the Enum8 domain. */
  def wireTick(name: String, r: SplittableRandom, events: Int): Tick = {
    val sb = new java.lang.StringBuilder(events * 240)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val epoch0 = firstDay.toEpochDay * 86400L
    var i = 0
    while (i < events) {
      val camp = campaigns(campaignZipf.sample(r))
      val email = s"u${r.nextInt(100000)}@example.com"
      val u = r.nextDouble()
      if (u < 0.01) {
        sb.append(s"""{"campaign_id": "$camp", "email": "$email""")
        counts("dead|corrupt_json") += 1
      } else {
        val typ = if (u < 0.02) "spam" else level(r)
        val t = LocalDateTime.ofEpochSecond(epoch0 + r.nextLong(5 * 86400L),
          r.nextInt(1000000) * 1000, ZoneOffset.UTC)
        val meta =
          if (r.nextInt(10) == 0) ""
          else s""", "metadata": {"subject": "s${r.nextInt(20)}"}"""
        sb.append(s"""{"campaign_id": "$camp", "workspace_id": """)
          .append(s""""${workspaces(r.nextInt(workspaces.length))}", """)
          .append(s""""email": "$email", "event_type": "$typ", """)
          .append(s""""event_time": "${isoMicros.format(t)}"$meta}""")
        if (typ == "spam") counts("dead|invalid_enum_event_type") += 1
        else {
          val date = t.getYear * 10000 + t.getMonthValue * 100 + t.getDayOfMonth
          counts(s"row|$camp|$typ|$date") += 1
          if (typ == "open") counts(s"open|$camp") += 1
        }
      }
      sb.append('\n')
      i += 1
    }
    Tick(name, sb.toString.getBytes(StandardCharsets.UTF_8), events,
      counts.toMap)
  }

  /** Part 2 queue records. The simulated clock walks three days across
    * the measured ticks (`pos` in [0, 1]); 5% of records are late, one
    * to five days behind it. */
  def queueTick(name: String, r: SplittableRandom, events: Int,
      pos: Double): Tick = {
    val sb = new java.lang.StringBuilder(events * 72)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val now = firstDay.toEpochDay * 86400L + 5 * 86400L +
      (pos * 3 * 86400).toLong
    var i = 0
    while (i < events) {
      val lvl = level(r)
      if (r.nextDouble() < 0.01) {
        sb.append(s"""{"timestamp": $now, "level": "$lvl", "mess""")
      } else {
        val late = r.nextDouble() < 0.05
        val ts = now + r.nextLong(600) -
          (if (late) 86400L * (1 + r.nextInt(5)) + r.nextLong(86400) else 0L)
        sb.append(s"""{"timestamp": $ts, "level": "$lvl", """)
          .append(s""""message": "m${r.nextInt(1 << 20)}"}""")
        counts(s"day|${LocalDate.ofEpochDay(Math.floorDiv(ts, 86400L))}|$lvl") += 1
        counts(s"level|$lvl") += 1
      }
      sb.append('\n')
      i += 1
    }
    Tick(name, sb.toString.getBytes(StandardCharsets.UTF_8), events,
      counts.toMap)
  }
}
