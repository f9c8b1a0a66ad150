package perfbench

import java.io.File

import graft.SparkEntry

/** Read-only query mix over a seeded corpus: two LLM-pipeline operators,
  * the reference's doc build, the day-pushdown rule and the native as-of
  * join, each run by its SparkEntry entry. Every query is fully
  * materialised through the `noop` sink; sync and sinks stay idle.
  */
object OperatorMix {
  /** A run measures a fixed number of passes — one per this many seconds of
    * `--seconds`, and at least `MinPasses` — so a faster host does not move
    * the median to later, warmer passes. A query's time is its median.
    */
  val PassBudgetS = 4.0
  val MinPasses = 5
  /** Untimed passes after the checked one: C2 is still compiling the
    * queries' hot paths through the first passes after it.
    */
  val WarmupPasses = 2

  /** A mix entry and the node or expression its executed plan must keep: a
    * plan that lost it is not timing the query's work.
    */
  final case class Query(name: String, operator: String)

  val queries: Seq[Query] = Seq(
    Query("x_embed_cosine_topk", "Join"),
    Query("x_quality_score", "regexp_replace"),
    Query("f3_to_json", "StructsToJson"),
    Query("s8_day_pushdown_rule", "GreaterThanOrEqual(ts"),
    Query("j13_asof_native", "AsOf"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    // the corpus is generated by run.py (corpus.py), with its row counts
    val corpus = new File(ctx.work, "corpus")
    val dir = corpus.getAbsolutePath
    val rows = scala.io.Source.fromFile(new File(corpus, "rows.txt")).getLines()
      .map(_.split(' ')).map(a => a(0) -> a(1).toLong).toMap

    // warm-up passes, outside any timed region; the first checks the plan
    // guard, counts the input rows each query scans, and writes the results
    // the oracle check compares
    val outDir = ctx.freshDir("mix_out")
    val inputRows = scala.collection.mutable.Map.empty[String, Long]
    val w0 = System.nanoTime()
    queries.foreach { q =>
      ctx.op(s"warmup.${q.name}") {
        val df = SparkEntry.queries(q.name)(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        r.check(s"plan.${q.name}", plan.contains(q.operator),
          s"executed plan lost '${q.operator}':\n${plan.take(1500)}")
        inputRows(q.name) = df.inputFiles.map(f => new File(new java.net.URI(f).getPath).getName)
          .map(_.stripSuffix(".parquet")).distinct.flatMap(rows.get).sum
        df.write.mode("overwrite").parquet(new File(outDir, q.name).getPath)
      }
    }
    (1 to WarmupPasses).foreach { _ =>
      queries.foreach(q => ctx.op(s"warmup.${q.name}")(SparkEntry.queries(q.name)(spark, dir)
        .write.format("noop").mode("overwrite").save()))
    }
    r.metric("setup.warmup_s", (System.nanoTime() - w0) / 1e9)
    val sqls = SparkEntry.oracleSql
    r.meta("oracle") = Map("corpus" -> dir, "queries" -> queries.map { q =>
      Map("name" -> q.name, "out" -> new File(outDir, q.name).getPath,
        "sql" -> sqls.getOrElse(q.name, "SELECT error('no oracle')"))
    })

    final case class Pass(traced: Boolean, total: Double, cpu: Double, times: Map[String, Double], planS: Double)

    def pass(traceOn: Boolean): Pass = ctx.pass(traceOn) {
      var planS = 0.0
      val cpu0 = Stats.cpuS()
      var times = Map.empty[String, Double]
      queries.foreach { q =>
        ctx.op(q.name) {
          val df = SparkEntry.queries(q.name)(spark, dir)
          if (ctx.tracer.active) {
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan
            planS += (System.nanoTime() - p0) / 1e9
          }
          df.write.format("noop").mode("overwrite").save()
        }.foreach(t => times += q.name -> t)
      }
      Pass(ctx.tracer.active, times.values.sum, Stats.cpuS() - cpu0, times, planS)
    }

    ctx.probe.foreach(_.reset())
    val all = (0 until math.max(MinPasses, math.ceil(ctx.seconds / PassBudgetS).toInt)).map(i => pass(i % 2 == 0))
    val complete = all.filter(_.times.size == queries.size)
    if (complete.nonEmpty) {
      val perQuery = queries.map(q => q.name -> Stats.median(all.flatMap(_.times.get(q.name))))
      r.metric("pass_s", perQuery.map(_._2).sum)
      r.metric("pass_cpu_s", Stats.median(all.map(_.cpu)))
      r.metric("op_p50_ms", Stats.median(all.flatMap(_.times.values)) * 1e3)
      r.metric("rows_per_s", queries.map(q => inputRows.getOrElse(q.name, 0L)).sum / r.metrics("pass_s"))
      r.metric("mix.wall_s", r.metrics("pass_s"))
      r.metric("mix.query_geomean_s", Stats.geomean(perQuery.map(_._2)))
      perQuery.foreach { case (q, s) => r.metric(s"query.${q}_s", s) }
    }
    r.meta("passes_s") = all.map(_.total)
    r.meta("passes_cpu_s") = all.map(_.cpu)
    r.meta("query_s") = queries.map(q => q.name -> all.flatMap(_.times.get(q.name))).toMap

    if (ctx.traced) {
      val tr = all.filter(_.traced)
      val un = all.filterNot(_.traced)
      Layers.report(ctx, tr.map(_.total).sum, tr.size)
      r.metric("mix.plan_s", tr.map(_.planS).sum / tr.size)
      if (un.nonEmpty)
        r.metric("trace.overhead_frac", Stats.median(tr.map(_.total)) / Stats.median(un.map(_.total)) - 1)
      Layers.dumpSpans(ctx, new File(ctx.work, "spans.jsonl"))
    }
  }
}
