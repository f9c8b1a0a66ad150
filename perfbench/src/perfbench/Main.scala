package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything one run measured or checked; written as JSON for run.py. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val meta = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double): Unit = metrics(name) = v

  /** An output check: counts as one attempted operation, and as a failed
    * one when it does not hold.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }

  def toJson: String = Json.write(Map(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.toMap,
    "checks" -> checks.toList.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "errors" -> errors.toList,
    "meta" -> meta.toMap))
}

/** JSON encoding through json4s, which ships with Spark. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def write(value: AnyRef): String = org.json4s.jackson.Serialization.write(value)
}

/** One run's context: the session, the seeded settings and the recorders. */
final class Ctx(
    val spark: SparkSession,
    val cores: Int,
    val seed: Long,
    val seconds: Double,
    val work: File,
    val tracer: Tracer,
    val probe: Option[SparkProbe],
    val report: Report) {

  def traced: Boolean = tracer.enabled

  /** A fresh, empty directory under the run's work directory. */
  def freshDir(name: String): File = {
    val d = new File(work, name)
    Inputs.deleteRecursively(d)
    d.mkdirs()
    d
  }

  /** One closed-loop operation: timed, counted, and followed by the release
    * of every cache it left behind. Returns its seconds, or None when it
    * threw (counted as failed, error recorded).
    */
  def op(name: String)(body: => Unit): Option[Double] = {
    report.attempted += 1
    val t0 = System.nanoTime()
    val r =
      try { tracer.span(name)(body); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case NonFatal(e) =>
          report.failed += 1
          report.errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      }
    release()
    r
  }

  /** One measured pass. A traced run alternates traced and untraced passes:
    * the probe listens only to traced ones, and the ratio of the two pass
    * times is the tracing overhead.
    */
  def pass[T](traceOn: Boolean)(body: => T): T = {
    val on = traced && traceOn
    tracer.active = on
    if (on) probe.foreach(spark.sparkContext.addSparkListener)
    val (c0, ms0) = Layers.codegenNow()
    try body
    finally {
      if (on) {
        org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
        probe.foreach(spark.sparkContext.removeSparkListener)
        val (c1, ms1) = Layers.codegenNow()
        codegen = (codegen._1 + c1 - c0, codegen._2 + ms1 - ms0)
      }
      tracer.active = traced
    }
  }

  /** Codegen compilations and their milliseconds during traced passes. */
  var codegen: (Long, Double) = (0L, 0.0)

  def release(): Unit = {
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  /** Set-up repeated `reps` times; the median is the run's set-up time. */
  def repeatedSetup(reps: Int)(body: Int => Unit): Double =
    Stats.median((0 until reps).map { i =>
      val t0 = System.nanoTime()
      tracer.span("setup")(body(i))
      (System.nanoTime() - t0) / 1e9
    })
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** CPU seconds this JVM has used so far, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Entry point: `perfbench.Main --workload W --seed S --seconds T --trace 0|1
  * --cores N --work DIR --out FILE`. Builds the session with the program's
  * own factory, runs one workload, writes the report to FILE.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val work = new File(opts("work"))
    val report = new Report
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(opts("trace") == "1")
    val probe = if (tracer.enabled) Some(new SparkProbe) else None
    val ctx = new Ctx(spark, cores, seed, seconds, work, tracer, probe, report)
    report.meta ++= Seq("workload" -> workload, "seed" -> seed, "cores_used" -> cores,
      "spark_version" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
    report.metric("setup.session_s", sessionS)
    opts.get("prepare-s").foreach(v => report.metric("setup.prepare_s", v.toDouble))
    try {
      workload match {
        case "sync_rounds" => SyncRounds.run(ctx)
        case "operator_mix" => OperatorMix.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      report.metric("setup_s", sessionS + report.metrics("setup.prepare_s") + report.metrics("setup.warmup_s"))
    } catch {
      case e: Throwable => // recorded, never swallowed: the run reports failed
        report.failed += 1
        report.attempted += 1
        report.errors += s"run: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        e.printStackTrace()
    } finally {
      spark.stop()
      report.meta("main_s") = (System.nanoTime() - t0) / 1e9
      Files.write(new File(opts("out")).toPath, report.toJson.getBytes(StandardCharsets.UTF_8))
    }
  }
}
