package perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** Per-layer metrics read from the traced passes, common to every workload:
  * the Spark scheduler/executor tallies, the sync and sink phases found by
  * frame attribution (zero where the workload never enters them), codegen,
  * heap, and the span dump.
  */
object Layers {
  val Plan = "IncrementalSync.syncMissingPartitions"
  val Commit = "EsBulkSink.upsertById"
  val Reconcile = "IncrementalSync.reconcileByIds"
  val Verify = "IncrementalSync.verifyInSync"

  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Compilations so far and their approximate total milliseconds. */
  def codegenNow(): (Long, Double) = {
    val h = codegen
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Start a new heap-peak window (called when the probe is reset). */
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.forEach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since [[resetHeapPeak]]: an upper bound
    * of the heap's peak, as the pools need not peak together.
    */
  def heapPeakMb(): Double = {
    var total = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) total += p.getPeakUsage.getUsed
    }
    total / 1e6
  }

  /** Report the probe's tallies for `passes` traced passes that took
    * `wallS` seconds in total; per-pass values are means over the passes.
    */
  def report(ctx: Ctx, wallS: Double, passes: Int): Unit = ctx.probe.foreach { p =>
    val r = ctx.report
    val per = math.max(1, passes).toDouble
    def c(k: String): Double = p.get(k).toDouble
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed").foreach(k => r.metric(k, c(k) / per))
    r.metric("spark.task_run_s", c("spark.task_run_ms") / 1e3 / per)
    r.metric("spark.task_cpu_s", c("spark.task_cpu_ns") / 1e9 / per)
    r.metric("spark.gc_s", c("spark.gc_ms") / 1e3 / per)
    r.metric("spark.task_wait_s", (c("spark.task_queue_ms") + c("spark.task_delay_ms")) / 1e3 / per)
    r.metric("spark.busy_frac", c("spark.task_run_ms") / 1e3 / (wallS * ctx.cores))
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
      "output_bytes", "output_rows").foreach(k => r.metric(s"spark.$k", c(s"spark.$k") / per))
    r.metric("jvm.heap_peak_mb", heapPeakMb())
    r.metric("codegen.compiles", ctx.codegen._1 / per)
    r.metric("codegen.compile_s", ctx.codegen._2 / 1e3 / per)

    val commitRows = p.frameCounter(_ == Commit, "spark.output_rows").toDouble / per
    r.metric("sync.plan_s", p.frameSeconds(_ == Plan) / per)
    r.metric("sinks.commit_s", p.frameSeconds(_ == Commit) / per)
    r.metric("sync.reconcile_s", p.frameSeconds(_ == Reconcile) / per)
    r.metric("sync.verify_s", p.frameSeconds(_ == Verify) / per)
    r.metric("sinks.rows_written", commitRows)
    r.metric("sinks.bytes_written", p.frameCounter(_ == Commit, "spark.output_bytes").toDouble / per)
    r.metric("sync.rows_scanned",
      p.frameCounter(f => f == Plan || f == Commit || f == Reconcile, "spark.input_rows").toDouble / per)
  }

  /** Dump every span as JSON lines, with self time per span name. */
  def dumpSpans(ctx: Ctx, file: File): Unit = if (ctx.traced) {
    val spans = ctx.tracer.all(ctx.probe.map(_.executions).getOrElse(Nil))
    val self = ctx.tracer.selfTimes(spans)
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      self.toSeq.sortBy(-_._2).foreach { case (n, v) => out.println(Json.write(Map("self_s" -> Map("name" -> n, "s" -> v)))) }
    } finally out.close()
    ctx.report.meta("spans") = spans.size.toLong
  }
}
