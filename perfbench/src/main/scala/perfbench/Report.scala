package perfbench

import java.io.{File, PrintWriter}

/** The traced run's per-layer numbers, its self-time table and span file. */
object Report {

  /** Every per-layer metric, in `BENCHMARK.json` order; a layer the
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.stage_s" -> "s", "setup.fixtures_s" -> "s", "setup.warmup_s" -> "s",
    "tables.resolve_ms" -> "ms", "tables.resolve_jobs" -> "count",
    "query.build_ms" -> "ms", "query.build_jobs" -> "count", "query.pins_added" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "exec.action_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_ms" -> "ms", "exec.sched_delay_ms" -> "ms", "exec.core_busy" -> "ratio",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.gc_ms" -> "ms",
    "scan.rows_read_per_row_returned" -> "ratio", "scan.files_read" -> "count",
    "cache.entries_peak" -> "count", "cache.mem_bytes_peak" -> "bytes",
    "stream.latest_offset_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.trigger_ms" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count", "stream.state_rows" -> "count",
    "stream.state_mem_bytes" -> "bytes", "stream.dupes_dropped_ratio" -> "ratio",
    "sink.bytes_per_event" -> "bytes", "dlq.events" -> "count",
    "gen.late_ms" -> "ms", "calib.md5_start_s" -> "s", "calib.md5_end_s" -> "s",
    "trace.overhead" -> "ratio", "trace.accounted" -> "ratio")

  /** Per-op averages over the traced phase. Writes the spans to
    * `.bench_trace/<workload>-<seed>.jsonl` and prints the self-time table
    * by layer. */
  def perLayer(ctx: Ctx, workload: String, p: Phase, wallS: Double): Seq[(String, (Double, String))] = {
    val t = ctx.tracer
    val spans = t.allSpans
    val self = Tracer.selfTimes(spans)
    val roots = spans.filter(_.layer == "op")
    val ops = math.max(1, roots.size).toDouble
    def selfMs(pred: Span => Boolean) = spans.filter(pred).map(s => self(s.id)).sum / 1e6
    def perOp(x: Double) = x / ops
    val c = t.counters

    new File(".bench_trace").mkdirs()
    val w = new PrintWriter(new File(s".bench_trace/$workload-${ctx.seed}.jsonl"), "UTF-8")
    try spans.foreach(s => w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    finally w.close()

    // self time by layer; the op root's own self time is harness glue
    val opWallMs = roots.map(r => (r.end - r.start) / 1e6).sum
    println(f"# $workload self time by layer over ${roots.size} ops (${opWallMs / ops}%.1f ms per op)")
    println(f"# ${"layer"}%-10s ${"ms/op"}%10s ${"share"}%7s")
    Tracer.Layers.foreach { l =>
      val ms = selfMs(_.layer == l)
      println(f"# ${if (l == "op") "unspanned" else l}%-10s ${perOp(ms)}%10.2f ${ms / math.max(1e-9, opWallMs)}%7.3f")
    }
    // accounted: the share of each op's wall the layer spans cover
    val accounted = roots.map { r =>
      val wall = (r.end - r.start).toDouble
      if (wall <= 0) 1.0 else 1.0 - self(r.id) / wall
    }
    roots.zip(accounted).filter(_._2 < 0.9).take(5).foreach { case (r, a) =>
      System.err.println(f"perfbench: op ${r.name} (${(r.end - r.start) / 1e6}%.1f ms) only $a%.3f covered by layer spans")
    }

    val phaseMs = spans.filter(_.layer == "catalyst").groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => s.end - s.start).sum / 1e6 }
    val computed = Map(
      "tables.resolve_ms" -> perOp(selfMs(_.layer == "tables")),
      "tables.resolve_jobs" -> perOp(c.jobsByLayer("tables").toDouble),
      "query.build_ms" -> perOp(selfMs(_.layer == "query")),
      "query.build_jobs" -> perOp(c.jobsByLayer("query").toDouble),
      "query.pins_added" -> perOp(t.pinsAdded.toDouble),
      "catalyst.analysis_ms" -> perOp(phaseMs.getOrElse("analysis", 0.0)),
      "catalyst.optimization_ms" -> perOp(phaseMs.getOrElse("optimization", 0.0)),
      "catalyst.planning_ms" -> perOp(phaseMs.getOrElse("planning", 0.0)),
      "exec.action_ms" -> perOp(selfMs(_.layer == "exec")),
      "exec.jobs" -> perOp(c.jobs.toDouble),
      "exec.stages" -> perOp(c.stages.toDouble),
      "exec.tasks" -> perOp(c.tasks.toDouble),
      "exec.task_cpu_ms" -> perOp(c.taskCpuNs / 1e6),
      "exec.sched_delay_ms" -> perOp(c.schedDelayMs.toDouble),
      "exec.core_busy" -> c.taskRunMs / (wallS * 1000.0 * ctx.cpus),
      "exec.shuffle_read_bytes" -> perOp(c.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> perOp(c.shuffleWrite.toDouble),
      "exec.spill_bytes" -> perOp(c.spill.toDouble),
      "exec.gc_ms" -> perOp(c.gcMs.toDouble),
      "scan.rows_read_per_row_returned" -> t.scanRows.toDouble / math.max(1L, p.rowsReturned),
      "scan.files_read" -> perOp(t.scanFiles.toDouble),
      "cache.entries_peak" -> t.cacheEntriesPeak.toDouble,
      "cache.mem_bytes_peak" -> t.cacheBytesPeak.toDouble,
      "trace.accounted" -> Stats.median(accounted))
    PerLayer.collect {
      case (name, unit) if computed.contains(name) => name -> (computed(name), unit)
      case (name, unit) if p.layer.contains(name) => name -> p.layer(name)
      case (name, unit) if name.startsWith("stream.") || name.startsWith("sink.") ||
        name.startsWith("dlq.") || name == "gen.late_ms" => name -> (0.0, unit)
    }
  }
}
