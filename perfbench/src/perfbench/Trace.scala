package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval: a call into a program layer made by the harness, or
  * a Spark SQL execution attributed to the innermost `graft.*` frame that
  * started it. Times are epoch milliseconds.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

/** In-memory span recorder. While not `active`, `span` only runs its body,
  * so the untraced run pays nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  var active: Boolean = enabled
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.currentTimeMillis().toDouble
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, name, parent, t0, System.currentTimeMillis().toDouble)
      }
    }

  /** Add the attributed Spark executions as children of the innermost
    * harness span that contains their start, and return every span.
    */
  def all(executions: Seq[SparkProbe.Exec]): Seq[Span] = {
    val harness = spans.toSeq
    val extra = executions.zipWithIndex.map { case (e, i) =>
      val parent = harness.filter(s => s.startMs <= e.startMs && e.startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
      Span(nextId + i, s"spark:${e.frame}", parent, e.startMs.toDouble, e.endMs.toDouble)
    }
    harness ++ extra
  }

  /** Seconds per span name not covered by the span's children. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).sortBy(_._1)
        s.endMs - s.startMs - SparkProbe.unionLength(kids)
      }.sum / 1000.0
    }
  }
}

/** Spark listener for the traced run: tallies jobs, stages, tasks and task
  * metrics, and attributes each SQL execution to the innermost `graft.*`
  * frame of the call site that started it (`details` of the execution
  * start event, or of the stage when a job has no execution).
  */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    if (v != 0) counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v): Unit

  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobFrame = new ConcurrentHashMap[Int, String]()
  private val execStart = new ConcurrentHashMap[Long, (Long, String, Boolean)]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()

  def reset(): Unit = { counters.clear(); execs.clear(); Layers.resetHeapPeak() }

  def get(k: String): Long = Option(counters.get(k)).map(_.get).getOrElse(0L)

  def executions: Seq[Exec] = execs.asScala.toSeq.sortBy(_.startMs)

  /** Wall seconds covered by executions attributed to a frame whose name
    * satisfies `p` (overlapping executions counted once).
    */
  def frameSeconds(p: String => Boolean): Double =
    unionLength(executions.filter(e => p(e.frame)).map(e => (e.startMs.toDouble, e.endMs.toDouble))) / 1000.0

  /** Task counter `k` summed over jobs attributed to a frame satisfying `p`. */
  def frameCounter(p: String => Boolean, k: String): Long =
    counters.asScala.collect { case (key, v) if key.startsWith(k + "@") && p(key.drop(k.length + 1)) => v.get }.sum

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      val nested = s.rootExecutionId.exists(_ != s.executionId)
      execStart.put(s.executionId, (s.time, innermostFrame(s.details), nested))
    case e: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(e.executionId)).foreach { case (t0, frame, nested) =>
        if (!nested) execs.add(Exec(e.executionId, frame, t0, e.time))
      }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val frame = exec.flatMap(id => Option(execStart.get(id.toLong)).map(_._2))
      .getOrElse(j.stageInfos.headOption.map(si => innermostFrame(si.details)).getOrElse(Harness))
    jobFrame.put(j.jobId, frame)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(s.stageInfo.stageId, s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = add("spark.stages", 1)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (t.reason != org.apache.spark.Success) add("spark.tasks_failed", 1)
    val frame = Option(stageJob.get(t.stageId)).flatMap(j => Option(jobFrame.get(j))).getOrElse(Harness)
    def both(k: String, v: Long): Unit = { add(k, v); add(s"$k@$frame", v) }
    val info = t.taskInfo
    if (info != null) {
      val submitted = Option(stageSubmit.get(t.stageId)).map(_.longValue).getOrElse(info.launchTime)
      add("spark.task_queue_ms", math.max(0L, info.launchTime - submitted))
    }
    val m = t.taskMetrics
    if (m != null) {
      add("spark.task_run_ms", m.executorRunTime)
      add("spark.task_cpu_ns", m.executorCpuTime)
      add("spark.gc_ms", m.jvmGCTime)
      if (info != null)
        add("spark.task_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.diskBytesSpilled)
      both("spark.input_bytes", m.inputMetrics.bytesRead)
      both("spark.input_rows", m.inputMetrics.recordsRead)
      both("spark.output_bytes", m.outputMetrics.bytesWritten)
      both("spark.output_rows", m.outputMetrics.recordsWritten)
    }
  }
}

object SparkProbe {
  val Harness = "harness"

  final case class Exec(id: Long, frame: String, startMs: Long, endMs: Long)

  /** `graft.sinks.EsBulkSink$.upsertById(EsBulkSink.scala:70)` →
    * `EsBulkSink.upsertById`; lambda frames name their enclosing method.
    */
  def innermostFrame(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim).find(_.startsWith("graft.")).map { line =>
      val call = line.takeWhile(_ != '(')
      val dot = call.lastIndexOf('.')
      val cls = call.take(dot).split('.').last.stripSuffix("$")
      val method = call.drop(dot + 1).split('$').filter(p => p.nonEmpty && p != "anonfun" &&
        !p.forall(_.isDigit) && p != "adapted").headOption.getOrElse(call.drop(dot + 1))
      s"$cls.$method"
    }.getOrElse(Harness)

  /** Total length of a set of intervals, overlaps counted once. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
