package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One committed micro-batch as Spark's progress report gives it. */
final case class Batch(queryId: String, id: Long, startMs: Double,
    durMs: Map[String, Long], rows: Long) {
  def endMs: Double = startMs + durMs.getOrElse("triggerExecution", 0L)
  def d(k: String): Long = durMs.getOrElse(k, 0L)
}

/** Scan metrics of one tagged read. */
final case class ReadScan(req: String, filesRead: Long, rowsScanned: Long)

/** Spark's public listeners, registered by the benchmark itself.
  *
  * The streaming-progress listener always runs: batch commit times are
  * how freshness is measured. The task-metric and SQL-metric listeners
  * only run in a traced run. */
final class Probes(spark: SparkSession, traced: Boolean) {
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** Task and write counters only accumulate while this is set. */
  val window = new AtomicBoolean(false)
  val taskCpuNs = new AtomicLong()
  val sinkFiles = new AtomicLong()
  val sinkBytes = new AtomicLong()
  val scans = new ConcurrentLinkedQueue[ReadScan]()
  private val readTags = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, String]())

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // idle polls report progress too; only executed batches run addBatch
      if (p.durationMs.containsKey("addBatch"))
        batches.add(Batch(p.id.toString, p.batchId,
          Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
    }
  })

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (window.get && e.taskMetrics != null)
          taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = if (window.get) {
        val nodes = Probes.nodes(qe.executedPlan)
        nodes.foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toString.contains("/email_events") =>
              sinkFiles.addAndGet(w.metrics.get("numFiles").fold(0L)(_.value))
              sinkBytes.addAndGet(
                w.metrics.get("numOutputBytes").fold(0L)(_.value))
            case _ =>
          }
          case _ =>
        }
        Option(readTags.remove(qe)).foreach { req =>
          val fileScans = nodes.collect { case s: FileSourceScanExec => s }
          def total(k: String) =
            fileScans.map(_.metrics.get(k).fold(0L)(_.value)).sum
          scans.add(ReadScan(req, total("numFiles"), total("numOutputRows")))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = readTags.remove(qe)
    })
  }

  /** Marks `qe` as read `req`, so its scan metrics are kept. */
  def tagRead(qe: QueryExecution, req: String): Unit =
    if (traced) readTags.put(qe, req)

  /** Batches of one query, across restarts, in id order; a batch
    * replayed after a crash keeps its last report. */
  def batchesOf(queryId: String): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId).toSeq
      .groupMapReduce(_.id)(identity)((_, b) => b).values.toSeq.sortBy(_.id)

  /** Waits until the progress of batch `id` has reached the listener:
    * the listener bus delivers it after the batch commits. */
  def awaitBatch(queryId: String, id: Long, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!batches.asScala.exists(b => b.queryId == queryId && b.id >= id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

object Probes {
  /** Every node of an executed plan, through adaptive stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
