package perfbench

/** Per-layer metrics of a traced run, named after the program's
  * packages. A layer the route does not exercise reports 0. Each
  * metric's comment names the end-to-end metric it should move. */
final class Layers(route: Route, trace: Trace, probes: Probes,
    allBatches: Seq[Batch], measured: IndexedSeq[Tick],
    visibleMs: Array[Double], genLateMs: Array[Double],
    fileBatch: Map[String, Long], reads: Seq[ReadDone], compactMs: Seq[Double],
    t0: Long, windowEndMs: Double, gcWindowMs: Long,
    state: Map[String, Long], expected: Map[String, Long]) {

  private val windowStartMs = Clock.msAt(t0)
  private val batches = allBatches.filter(b =>
    b.startMs >= windowStartMs && b.startMs <= windowEndMs)
  private val direct = route == DirectRoute
  private val events = measured.map(_.lines.toLong).sum.toDouble
  private def perBatch(f: Batch => Double) = Stats.mean(batches.map(f))

  // progress reports become spans: the batch, and its phases laid end
  // to end in the order the micro-batch runs them
  private val appendSpan = if (direct) "ingest.add_batch" else "agg.append"
  batches.foreach { b =>
    val id = trace.add("pipeline.batch", b.id.toString, b.startMs, b.endMs)
    var at = b.startMs
    Seq("latestOffset" -> "pipeline.latest_offset",
      "walCommit" -> "pipeline.wal_commit", "getBatch" -> "pipeline.get_batch",
      "queryPlanning" -> "pipeline.plan", "addBatch" -> appendSpan,
      "commitOffsets" -> "pipeline.commit_offsets").foreach { case (k, n) =>
      trace.add(n, b.id.toString, at, at + b.d(k), id)
      at += b.d(k)
    }
  }

  /** Visible but unread tick files when each batch started. */
  private def lagFiles: Seq[Double] = batches.map { b =>
    measured.indices.count(k => visibleMs(k) > 0 && visibleMs(k) <= b.startMs &&
      fileBatch.get(measured(k).name).forall(_ >= b.id)).toDouble
  }

  private def readsOf(kind: String) = reads.filter(r => r.kind == kind && !r.failed)
  private def readMs(kind: String) = Stats.median(readsOf(kind).map(r => r.endMs - r.startMs))
  private def scansOf(kind: String) = {
    val reqs = readsOf(kind).map(_.req).toSet
    probes.scans.toArray(Array.empty[ReadScan]).filter(s => reqs(s.req)).toSeq
  }
  private def scannedPerRow(kinds: Seq[String]): Double = {
    val rows = kinds.flatMap(readsOf).map(_.resultRows).sum
    val scanned = kinds.flatMap(scansOf).map(_.rowsScanned).sum
    if (rows == 0) 0.0 else scanned.toDouble / rows
  }
  private def orZero(b: Boolean)(v: => Double) = if (b) v else 0.0

  def metrics: Seq[(String, Double, String)] = {
    val self = trace.selfMsByLayer(windowStartMs, windowEndMs)
    val landed = state.filter(kv => kv._1.startsWith("row|") || kv._1.startsWith("level|"))
    val producedRows = expected.filter(kv =>
      kv._1.startsWith("row|") || kv._1.startsWith("level|")).values.sum
    val lookups = readsOf("lookup")
    Seq(
      // freshness_p50_ms (mv_rollup: fixed costs dominate; direct_ingest)
      ("pipeline.batches", batches.size.toDouble, "count"),
      ("pipeline.batch_ms.p50", Stats.median(batches.map(_.d("triggerExecution").toDouble)), "ms"),
      ("pipeline.offsets_ms", perBatch(b => (b.d("latestOffset") + b.d("getBatch")).toDouble), "ms"),
      ("pipeline.plan_ms", perBatch(_.d("queryPlanning").toDouble), "ms"),
      ("pipeline.commit_ms", perBatch(b => (b.d("walCommit") + b.d("commitOffsets")).toDouble), "ms"),
      ("pipeline.rows_per_batch.p50", Stats.median(batches.map(_.rows.toDouble)), "count"),
      // freshness_p99_ms
      ("pipeline.lag_files.max", if (batches.isEmpty) 0.0 else lagFiles.max, "count"),
      // freshness_p50_ms / drain_events_per_s (direct_ingest)
      ("ingest.add_batch_ms", orZero(direct)(perBatch(_.d("addBatch").toDouble)), "ms"),
      ("ingest.task_cpu_ms_per_kevent", probes.taskCpuNs.get / 1e6 / (events / 1000), "ms"),
      ("ingest.gc_ms", gcWindowMs.toDouble, "ms"),
      // read_p50_ms / bytes_per_event (direct_ingest)
      ("ingest.files_written_per_batch",
        if (batches.isEmpty) 0.0 else probes.sinkFiles.get.toDouble / batches.size, "count"),
      ("ingest.bytes_written_per_event", probes.sinkBytes.get / events, "B"),
      // failed attempts (correct / failed)
      ("ingest.landed_frac", if (producedRows == 0) 0.0 else landed.values.sum.toDouble / producedRows, "ratio"),
      ("ingest.dead_letter_rows", state.filter(_._1.startsWith("dead|")).values.sum.toDouble, "count"),
      // freshness_p50_ms (mv_rollup)
      ("agg.append_ms", orZero(!direct)(perBatch(_.d("addBatch").toDouble)), "ms"),
      // read_p50_ms (mv_rollup)
      ("agg.partial_dirs", orZero(!direct)(Stats.median(reads.map(_.partialDirs.toDouble))), "count"),
      ("agg.rows_scanned_per_result_row",
        orZero(!direct)(scannedPerRow(Seq("level_totals", "daily_totals"))), "ratio"),
      // read_p50_ms / read_p95_ms (mv_rollup), through agg.partial_dirs
      ("agg.compact_ms", if (compactMs.isEmpty) 0.0 else Stats.median(compactMs), "ms"),
      ("agg.compactions", compactMs.size.toDouble, "count"),
      // read_p50_ms (direct_ingest)
      ("query.lookup_ms.p50", orZero(lookups.nonEmpty)(readMs("lookup")), "ms"),
      ("query.lookup_plan_ms", Stats.mean(lookups.map(_.planMs)), "ms"),
      ("query.lookup_files_read", Stats.mean(scansOf("lookup").map(_.filesRead.toDouble)), "count"),
      ("query.lookup_rows_scanned_per_row", scannedPerRow(Seq("lookup")), "ratio"),
      // read_p50_ms (mv_rollup)
      ("query.level_totals_ms.p50", orZero(!direct)(readMs("level_totals")), "ms"),
      ("query.daily_totals_ms.p50", orZero(!direct)(readMs("daily_totals")), "ms"),
      // harness health
      ("query.read_late_ms.max", if (reads.isEmpty) 0.0 else reads.map(r => r.startMs - r.dueMs).max, "ms"),
      ("gen.late_ms.max", if (genLateMs.isEmpty) 0.0 else genLateMs.max, "ms"),
      // self time per layer inside the measured window
      ("pipeline.self_ms", self.getOrElse("pipeline", 0.0), "ms"),
      ("ingest.self_ms", self.getOrElse("ingest", 0.0), "ms"),
      ("agg.self_ms", self.getOrElse("agg", 0.0), "ms"),
      ("query.self_ms", self.getOrElse("query", 0.0), "ms"),
      ("gen.self_ms", self.getOrElse("gen", 0.0), "ms"))
  }
}
