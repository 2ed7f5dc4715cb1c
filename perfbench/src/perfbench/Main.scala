package perfbench

import org.apache.spark.sql.SparkSession

/** `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <traceFile>`
  *
  * Runs one workload in Spark local mode on every core and prints the
  * result as one JSON line, last on stdout. perfbench/run.py is the
  * front end: it builds, sets the JVM flags and keeps all files inside
  * the checkout. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traceFlag, work, traceFile) = args
    val route = Route(workload)
    val spark = session(work)
    val harness = new Harness(spark, route, seed.toLong, seconds.toInt,
      traceFlag == "1", work)
    val outcome =
      try harness.run()
      finally {
        harness.trace.write(traceFile)
        spark.stop()
      }
    println(outcome.json)
  }

  /** Spark in local mode on every core; its scratch files stay in `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
