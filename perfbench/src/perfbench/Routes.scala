package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.PipelineConfig
import graft.pipeline.{DirectPipeline, MaterializedPipeline}
import graft.query.Retrieval

/** What differs between the two reference routes: the traffic, the
  * pipeline, the reads and the ledger checks. Offered rates are fixed
  * per route; both keep up on a 4-core host. */
sealed trait Route {
  def name: String
  def queryName: String
  /** Topic files per second and events per file, open loop. */
  def ticksPerSecond: Int
  def eventsPerTick: Int
  /** Reads per second from the one reader thread, open loop. */
  def readsPerSecond: Double
  /** Seconds of offered load between compactions, if the route has a
    * store that needs them, and the compaction itself. */
  def compactEverySeconds: Option[Int] = None
  def compact(spark: SparkSession, cfg: PipelineConfig): Unit = ()
  /** Warehouse tables whose bytes count toward bytes_per_event. */
  def tables: Seq[String]

  def render(t: Traffic, name: String, r: SplittableRandom, events: Int,
      pos: Double): Tick
  def start(spark: SparkSession, cfg: PipelineConfig): StreamingQuery
  /** The read kinds, issued round-robin. */
  def readKinds: Seq[String]
  /** Builds read `kind`; `r` picks its argument. */
  def read(spark: SparkSession, cfg: PipelineConfig, kind: String,
      t: Traffic, r: SplittableRandom): (String, DataFrame)
  /** Checks one in-run read against the ledger and the previous reads
    * (`seen` holds the last value read per key): values only grow and
    * never exceed what was published. Returns the number of
    * violations. */
  def checkRead(kind: String, arg: String, rows: Array[Row], ledger: Ledger,
      seen: mutable.Map[String, Long]): Int
  /** The final state, keyed like the ledger. */
  def finalState(spark: SparkSession, cfg: PipelineConfig): Map[String, Long]
  /** Ledger key prefixes the final state must match exactly. */
  def finalPrefixes: Seq[String]
}

/** Grows-only and bounded-by-ledger check over keyed counts. */
private object ReadCheck {
  def apply(kv: Seq[(String, Long)], ledger: Ledger,
      seen: mutable.Map[String, Long]): Int = kv.count { case (k, v) =>
    val bad = v > ledger.get(k) || v < seen.getOrElse(k, 0L)
    seen(k) = math.max(v, seen.getOrElse(k, 0L))
    bad
  }
}

/** Part 1: direct insertion into `email_events`, read by campaign. */
object DirectRoute extends Route {
  val name = "direct_ingest"
  val queryName = "clickhouse-writer"
  val ticksPerSecond = 5
  val eventsPerTick = 800
  val readsPerSecond = 1.0
  val tables = Seq("email_events", "dead_letter")

  def render(t: Traffic, name: String, r: SplittableRandom, events: Int,
      pos: Double): Tick = t.wireTick(name, r, events)

  def start(spark: SparkSession, cfg: PipelineConfig): StreamingQuery =
    DirectPipeline.start(spark, cfg, trigger = Trigger.ProcessingTime(0L))

  val readKinds = Seq("lookup")

  def read(spark: SparkSession, cfg: PipelineConfig, kind: String,
      t: Traffic, r: SplittableRandom): (String, DataFrame) = {
    val campaign = t.campaigns(t.campaignZipf.sample(r))
    (campaign, Retrieval.openedEmails(spark, cfg, campaign))
  }

  def checkRead(kind: String, arg: String, rows: Array[Row], ledger: Ledger,
      seen: mutable.Map[String, Long]): Int = {
    val times = rows.map(_.getTimestamp(1).getTime)
    val sorted = times.indices.drop(1).forall(i => times(i - 1) >= times(i))
    ReadCheck(Seq(s"open|$arg" -> rows.length.toLong), ledger, seen) +
      (if (sorted) 0 else 1)
  }

  def finalState(spark: SparkSession, cfg: PipelineConfig): Map[String, Long] = {
    val rows = DirectPipeline.emailEvents(spark, cfg)
      .groupBy("campaign_id", "event_type", "event_date").count().collect()
      .map(r => s"row|${r.getString(0)}|${r.getString(1)}|${r.getInt(2)}" ->
        r.getLong(3))
    val dead = spark.read.schema("value STRING, reason STRING")
      .json(cfg.tablePath("dead_letter"))
      .groupBy("reason").count().collect()
      .map(r => s"dead|${r.getString(0)}" -> r.getLong(1))
    (rows ++ dead).toMap
  }
  val finalPrefixes = Seq("row|", "dead|")
}

/** Part 2: materialized-view partials into the `daily` summing store,
  * read through the dashboard totals; the benchmark compacts the store
  * on a fixed cadence, standing in for a background merge. */
object MvRoute extends Route {
  val name = "mv_rollup"
  val queryName = "consumer"
  val ticksPerSecond = 10
  val eventsPerTick = 1000
  val readsPerSecond = 1.5
  override val compactEverySeconds: Option[Int] = Some(5)
  val tables = Seq("daily")

  def render(t: Traffic, name: String, r: SplittableRandom, events: Int,
      pos: Double): Tick = t.queueTick(name, r, events, pos)

  def start(spark: SparkSession, cfg: PipelineConfig): StreamingQuery =
    MaterializedPipeline.start(spark, cfg, trigger = Trigger.ProcessingTime(0L))

  val readKinds = Seq("level_totals", "daily_totals")

  def read(spark: SparkSession, cfg: PipelineConfig, kind: String,
      t: Traffic, r: SplittableRandom): (String, DataFrame) = kind match {
    case "level_totals" => ("", Retrieval.levelTotals(spark, cfg))
    case _ => ("", Retrieval.dailyTotals(spark, cfg))
  }

  private def keyed(kind: String, rows: Array[Row]): Seq[(String, Long)] =
    kind match {
      case "level_totals" =>
        rows.map(r => s"level|${r.getString(0)}" -> r.getLong(1)).toSeq
      case _ =>
        rows.map(r => s"day|${r.getDate(0)}|${r.getString(1)}" -> r.getLong(2)).toSeq
    }

  def checkRead(kind: String, arg: String, rows: Array[Row], ledger: Ledger,
      seen: mutable.Map[String, Long]): Int =
    ReadCheck(keyed(kind, rows), ledger, seen)

  def finalState(spark: SparkSession, cfg: PipelineConfig): Map[String, Long] =
    (keyed("level_totals", Retrieval.levelTotals(spark, cfg).collect()) ++
      keyed("daily_totals", Retrieval.dailyTotals(spark, cfg).collect())).toMap
  val finalPrefixes = Seq("level|", "day|")

  override def compact(spark: SparkSession, cfg: PipelineConfig): Unit =
    MaterializedPipeline.dailyStore(cfg).compact(spark)
}

object Route {
  def apply(workload: String): Route = workload match {
    case DirectRoute.name => DirectRoute
    case MvRoute.name => MvRoute
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
