package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** `perfbench.CountSweep <sfDir> <outFile> <workDir>`
  *
  * One-off sweep over every registered query: runs it once as
  * `count()` and once as a full-result `write.format("noop")`, takes
  * both executed plans from a QueryExecutionListener, and lists the
  * queries whose count() plan drops operators (or computed columns)
  * that the noop plan keeps. Those are the queries a count()-timed
  * bench under-prices. */
object CountSweep {
  /** Plan nodes that only wrap or adapt other nodes. */
  private val Wrappers = Set("WholeStageCodegen", "InputAdapter",
    "AdaptiveSparkPlan", "ShuffleQueryStage", "BroadcastQueryStage",
    "TableCacheQueryStage", "ResultQueryStage", "ColumnarToRow",
    "AQEShuffleRead", "OverwriteByExpression", "AppendData",
    "WriteToDataSourceV2", "Execute OverwriteByExpression")
  /** What count() itself adds on top of the query: a partial and a
    * final aggregate around one exchange. */
  private val CountAdds = Map("HashAggregate" -> 2, "Exchange" -> 1)

  private def profile(plan: SparkPlan): Map[String, Int] = {
    val nodes = Probes.nodes(plan)
    val ops = nodes.map(_.nodeName.takeWhile(_ != ' '))
      .filterNot(n => Wrappers.exists(w => n.startsWith(w.takeWhile(_ != ' '))))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val computed = nodes.collect { case p: ProjectExec =>
      p.projectList.count(e => !e.isInstanceOf[Attribute])
    }.sum
    ops + ("computed columns" -> computed)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, workDir) = args
    val spark = Main.session(workDir)
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    /** Runs `action` and returns the plan of its own (last) event named
      * `func`; queries that run inner actions report those first. */
    def planOf(func: String)(action: => Unit): SparkPlan = {
      seen.clear()
      action
      val deadline = System.currentTimeMillis() + 10000
      def mine = seen.asScala.filter(_._1 == func).lastOption
      // the listener bus is asynchronous: wait for the action's own event
      var last = -1
      while ((mine.isEmpty || seen.size != last) &&
          System.currentTimeMillis() < deadline) {
        last = seen.size
        Thread.sleep(100)
      }
      mine.map(_._2.executedPlan).getOrElse(
        throw new IllegalStateException(
          s"no $func event among ${seen.asScala.map(_._1).mkString(",")}"))
    }

    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val counted = profile(planOf("count")(fn(spark, sfDir).count()))
        val full = profile(planOf("overwrite")(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        val dropped = full.toSeq.sortBy(_._1).flatMap { case (op, n) =>
          val kept = math.max(0, counted.getOrElse(op, 0) - CountAdds.getOrElse(op, 0))
          if (n > kept) Some(op -> (n - kept)) else None
        }
        println(s"[sweep] $name: ${dropped.mkString(", ")}")
        Some(name -> dropped)
      } catch { case e: Exception =>
        println(s"[sweep] $name: ERROR $e")
        None
      }
    }
    val done = rows.flatten
    // a dropped final ORDER BY (one Sort over its range Exchange) is the
    // least a count() skips; list it apart from dropped work
    val orderOnly = Map("Sort" -> 1, "Exchange" -> 1)
    val (ordering, work) = done.filter(_._2.nonEmpty).partition(_._2.forall {
      case (op, n) => n <= orderOnly.getOrElse(op, 0)
    })
    def fmt(d: Seq[(String, Int)]) = d.map { case (op, n) => s"$op x$n" }.mkString(", ")
    val body =
      s"# count() vs full-result plans\n\n" +
        s"Registered queries: ${rows.size}; swept: ${done.size}. For each, the " +
        "executed plan of `count()` is compared with the executed plan of a " +
        "full-result `write.format(\"noop\")`, after discounting the two " +
        "aggregates and one exchange count() adds.\n\n" +
        s"## Queries whose count() drops work (${work.size})\n\n" +
        "| query | dropped by count() |\n| --- | --- |\n" +
        work.map { case (n, d) => s"| $n | ${fmt(d)} |" }.mkString("\n") +
        s"\n\n## Queries whose count() drops only the final ordering (${ordering.size})\n\n" +
        ordering.map(_._1).mkString(", ") + "\n" +
        (if (done.size < rows.size)
          s"\nFailed to sweep: ${graft.SparkEntry.queries.keys.toSeq.sorted
            .filterNot(done.map(_._1).toSet).mkString(", ")}\n" else "")
    Files.write(Paths.get(out), body.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
