package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.EsBulkSink
import graft.sync.IncrementalSync

/** In-process bulk endpoint: counts the lines and bytes it is sent. */
object BulkStub {
  val lines = new AtomicLong
  val bytes = new AtomicLong
  def post(payload: Seq[String]): Unit = {
    lines.addAndGet(payload.size.toLong)
    bytes.addAndGet(payload.iterator.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1L).sum)
  }
}

/** The paper's pipeline: a day-partitioned sensor table is backfilled into
  * an empty emulated index, then each round lands new partitions plus late
  * rows into already-synced ones and runs partition sync, id
  * reconciliation, the bulk push of the landed rows, and the in-sync check.
  */
object SyncRounds {
  val BackfillDays = 12
  val RowsPerDay = 2000
  val NewDaysPerRound = 2
  val LateDaysPerRound = 2
  val LateRowsPerDay = 100
  val BatchSize = 50000 // the reference's BATCH_SIZE
  /** Rounds grow the index, so a run makes a fixed number of them — one per
    * this many seconds of `--seconds`, and at least `MinRounds` — rather
    * than as many as fit.
    */
  val RoundBudgetS = 6.0
  val MinRounds = 5
  /** Untimed rounds first: C2 is still compiling the sync path through them. */
  val WarmupRounds = 4
  /** Times the backfill source is generated; the median is the set-up's. */
  val SetupReps = 3
  val PartCol = "date"
  val IdCol = "id"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val root = ctx.freshDir("sync")
    val srcDir = new File(root, "source").getPath
    val indexDir = new File(root, "index").getPath
    var nextId = 0L
    var nextDay = 0

    /** Append rows for `days` to the source; returns the bytes landed. */
    def land(days: Seq[String], perDay: Int): Long = {
      val before = Inputs.sizeOf(new File(srcDir))
      val n = days.size.toLong * perDay
      Inputs.sensorRows(spark, ctx.seed, nextId, n, days)
        .repartition(col(PartCol)).write.mode("append").partitionBy(PartCol).parquet(srcDir)
      nextId += n
      Inputs.sizeOf(new File(srcDir)) - before
    }
    // declared schema, as the catalog table declares it: `date` stays a string
    val schema = Inputs.sensorRows(spark, ctx.seed, 0, 1, Seq(Inputs.day(0))).schema
    def source: DataFrame = spark.read.schema(schema).parquet(srcDir)
    def index: DataFrame = spark.read.parquet(indexDir)

    // set-up: the backfill source is generated several times (fresh each
    // time, the last copy stays), then loaded into the empty index once
    val s0 = System.nanoTime()
    val generate = ctx.repeatedSetup(SetupReps) { _ =>
      Inputs.deleteRecursively(root)
      nextId = 0L
      nextDay = BackfillDays
      land((0 until BackfillDays).map(Inputs.day), RowsPerDay)
    }
    val backfill = ctx.op("sync.backfill") {
      IncrementalSync.runPartitionSync(source, indexDir, PartCol, IdCol): Unit
    }.getOrElse(sys.error("backfill failed"))
    r.metric("setup.prepare_s", generate + backfill)
    r.metric("sync.backfill_s", backfill)
    r.meta("source_rows_backfill") = BackfillDays.toLong * RowsPerDay
    r.meta("source_bytes_backfill") = Inputs.sizeOf(new File(srcDir))

    final case class Round(total: Double, cpu: Double, phases: Seq[Double], moved: Long, parts: Int, reconciled: Long,
        landedBytes: Long, bulk: EsBulkSink.BulkReport, bulkBytes: Long)

    /** One round: land inputs (untimed), then the four timed operations. */
    def round(i: Int): Option[Round] = {
      val firstId = nextId
      val newDays = (0 until NewDaysPerRound).map(k => Inputs.day(nextDay + k))
      nextDay += NewDaysPerRound
      val rnd = new scala.util.Random(ctx.seed * 7919 + i)
      val lateDays = rnd.shuffle((0 until nextDay - NewDaysPerRound).toList).take(LateDaysPerRound).sorted.map(Inputs.day)
      val landed = land(newDays, RowsPerDay) + land(lateDays, LateRowsPerDay)
      var report: IncrementalSync.SyncReport = null
      var reconciled = 0L
      var bulk: EsBulkSink.BulkReport = null
      var verified = (-1L, -1L)
      val (lines0, bytes0) = (BulkStub.lines.get, BulkStub.bytes.get)
      var src: DataFrame = null
      val cpu0 = Stats.cpuS()
      val phases = Seq(
        ctx.op("sync.partition_sync") {
          src = ctx.tracer.span("sources.read")(source)
          report = IncrementalSync.runPartitionSync(src, indexDir, PartCol, IdCol)
        },
        ctx.op("sync.reconcile") {
          reconciled = IncrementalSync.reconcileByIds(src, index, PartCol, IdCol, indexDir, "__v")
        },
        ctx.op("sinks.bulk") {
          val landedRows = src.filter(expr(s"cast(substr($IdCol, 2) as bigint) >= $firstId"))
          bulk = EsBulkSink.bulkIndexWithAccounting(landedRows, BatchSize)(BulkStub.post)
        },
        ctx.op("sync.verify") {
          verified = IncrementalSync.verifyInSync(src, index, PartCol, IdCol)
        })
      val cpu = Stats.cpuS() - cpu0
      r.check(s"round$i.in_sync", verified == ((0L, 0L)), s"verifyInSync = $verified")
      if (phases.exists(_.isEmpty)) None
      else {
        val landedRows = newDays.size.toLong * RowsPerDay + lateDays.size.toLong * LateRowsPerDay
        r.check(s"round$i.partitions", report.partitionsMoved == newDays, s"moved ${report.partitionsMoved}")
        r.check(s"round$i.rows_moved", report.rowsMoved == newDays.size.toLong * RowsPerDay, s"moved ${report.rowsMoved}")
        r.check(s"round$i.reconciled", reconciled == lateDays.size.toLong * LateRowsPerDay, s"reconciled $reconciled")
        val posted = BulkStub.lines.get - lines0
        r.check(s"round$i.bulk", bulk.rows == landedRows && bulk.delivered == landedRows && bulk.failed == 0 &&
          posted == landedRows, s"bulk $bulk, $posted lines posted, expected $landedRows rows")
        Some(Round(phases.flatten.sum, cpu, phases.flatten, report.rowsMoved, report.partitionsMoved.size,
          reconciled, landed, bulk, BulkStub.bytes.get - bytes0))
      }
    }

    val w0 = System.nanoTime()
    (0 until WarmupRounds).foreach(round)
    r.metric("setup.warmup_s", (System.nanoTime() - w0) / 1e9)
    r.meta("setup_total_s") = (System.nanoTime() - s0) / 1e9

    ctx.probe.foreach(_.reset())
    val measured = math.max(MinRounds, math.ceil(ctx.seconds / RoundBudgetS).toInt)
    val rounds = (WarmupRounds until WarmupRounds + measured).flatMap { i =>
      val on = (i - WarmupRounds) % 2 == 0
      ctx.pass(on)(round(i).map(x => (on, x)))
    }
    val all = rounds.map(_._2)
    r.meta("rounds_s") = all.map(_.phases)
    r.meta("rounds_cpu_s") = all.map(_.cpu)
    if (all.nonEmpty) {
      r.metric("pass_s", Stats.median(all.map(_.total)))
      r.metric("pass_cpu_s", Stats.median(all.map(_.cpu)))
      r.metric("op_p50_ms", Stats.median(all.flatMap(_.phases)) * 1e3)
      r.metric("rows_per_s", all.map(x => x.moved + x.reconciled).sum / all.map(_.total).sum)
      r.metric("sync.round_s", r.metrics("pass_s"))
      r.metric("sync.rows_per_s", r.metrics("rows_per_s"))
    }

    // the final index holds exactly the source's (id, value) pairs
    def digest(df: DataFrame): (Long, Long, BigDecimal) = {
      val row = df.agg(count(lit(1)), countDistinct(col(IdCol)),
        sum(xxhash64(col(IdCol), col("value")).cast("decimal(38,0)"))).head()
      (row.getLong(0), row.getLong(1), BigDecimal(row.getDecimal(2)))
    }
    val (srcDigest, idxDigest) = (digest(source), digest(index))
    r.check("final.digest", srcDigest == idxDigest, s"source $srcDigest index $idxDigest")
    r.meta("source_rows_final") = srcDigest._1
    r.meta("source_bytes_final") = Inputs.sizeOf(new File(srcDir))

    if (ctx.traced) {
      val tr = rounds.filter(_._1).map(_._2)
      val un = rounds.filterNot(_._1).map(_._2)
      val n = tr.size.toDouble
      Layers.report(ctx, tr.map(_.total).sum, tr.size)
      val moved = tr.map(_.moved).sum / n
      val reconciled = tr.map(_.reconciled).sum / n
      r.metric("sync.partition_sync_s", tr.map(_.phases(0)).sum / n)
      r.metric("bulk.s", tr.map(_.phases(2)).sum / n)
      r.metric("sync.partitions_moved", tr.map(_.parts).sum / n)
      r.metric("sync.rows_moved", moved)
      r.metric("sync.rows_reconciled", reconciled)
      r.metric("sinks.write_amp", r.metrics("sinks.rows_written") / (moved + reconciled))
      r.metric("sinks.bytes_per_source_byte", r.metrics("sinks.bytes_written") / (tr.map(_.landedBytes).sum / n))
      r.metric("sync.read_amp", r.metrics("sync.rows_scanned") / (moved + reconciled))
      r.metric("bulk.batches", tr.map(_.bulk.batches).sum / n)
      r.metric("bulk.mb_per_batch", tr.map(_.bulkBytes).sum / 1e6 / tr.map(_.bulk.batches).sum)
      r.metric("bulk.failed", tr.map(_.bulk.failed).sum / n)
      r.metric("trace.overhead_frac", Stats.median(tr.map(_.total)) / Stats.median(un.map(_.total)) - 1)
      Layers.dumpSpans(ctx, new File(ctx.work, "spans.jsonl"))
    }
  }
}
