package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One span: a call into a library layer, made from the benchmark's own
  * code. `cycle` is the id of the enclosing cycle span (one build, one
  * incremental run, one pipeline pass, one micro-batch), -1 outside any
  * cycle. Wall-clock bounds are milliseconds, the clock Spark's listener
  * events use, so spans and jobs can be overlapped. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      cycle: Int, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var runMs, cpuNs, gcMs = 0L
  var bytesRead, rowsRead, rowsWritten = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    bytesRead += o.bytesRead; rowsRead += o.rowsRead
    rowsWritten += o.rowsWritten
  }
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once at the end. Every span sets a job group that the recorder owns,
  * so a `SparkListener` can attribute each job, and through the job's
  * stages each task, to the innermost open span. Inactive, a span is the
  * bare call: the untraced run pays nothing but a closure. A traced run
  * leaves its first step untraced, as a warm-up, then deactivates every
  * other step, so the difference between its later traced and untraced
  * steps measures the tracing overhead. */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  var active: Boolean = enabled
  private val GroupPrefix = "perfbench-span-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var cycleId = -1
  /** The id of the open cycle span, -1 outside any cycle or untraced. */
  def currentCycle: Int = cycleId
  private val own = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def countersOf(span: Int): Counters =
    own.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val span =
        if (group.startsWith(GroupPrefix))
          group.stripPrefix(GroupPrefix).toInt
        else -1
      e.stageIds.foreach(s => stageSpan.put(s, span))
      jobStart.put(e.jobId, e.time)
      countersOf(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (t0 != null) jobIntervals.synchronized {
        jobIntervals += ((t0.longValue, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.rowsRead += m.inputMetrics.recordsRead
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `body` as a span named `name`. */
  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, kind, open.headOption.fold(-1)(_.id),
        if (kind == "cycle") spans.size else cycleId,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      if (kind == "cycle") cycleId = s.id
      open = s :: open
      sc.setJobGroup(GroupPrefix + s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
        if (kind == "cycle") cycleId = -1
      }
    }

  /** A library call that returns a DataFrame, then its final write into
    * the `noop` sink: the two children split construction from action. */
  def stage(name: String)(build: => DataFrame): Unit =
    span(name) {
      val df = span("construct", "construct")(build)
      span("action", "action")(
        df.write.format("noop").mode("overwrite").save())
    }

  /** [[stage]] whose action collects the (small) result instead, for a
    * stage whose output is checked: the check then needs no second run. */
  def collectStage(name: String)(build: => DataFrame): Array[Row] =
    span(name) {
      val df = span("construct", "construct")(build)
      span("action", "action")(df.collect())
    }

  /** Waits for every listener event; call before reading counters. */
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListeners(spark.sparkContext)

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Counters of `ss`, each span's own only, so nothing counts twice. */
  def counters(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => Option(own.get(s.id)).foreach(c += _))
    c
  }

  /** The spans of every cycle named `cycleName`, one group per cycle,
    * cycle span first. */
  def cycles(cycleName: String): Seq[Seq[Span]] = {
    val byCycle = spans.toSeq.groupBy(_.cycle)
    spans.toSeq.filter(s => s.kind == "cycle" && s.name == cycleName)
      .map(c => byCycle(c.id).sortBy(_.id))
  }

  /** Time inside `root` when no Spark job was running. */
  def driverOnlySeconds(root: Span): Double = {
    val ivs = jobIntervals.synchronized(jobIntervals.toSeq)
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, root.seconds - covered / 1e3)
  }

  /** Every span with its self time and own counters, for the trace file. */
  def dump(runId: String): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = counters(Seq(s))
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "parent" -> s.parent, "cycle" -> s.cycle, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks,
      "shuffle_write_bytes" -> c.shuffleWrite,
      "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
      "executor_run_ms" -> c.runMs, "executor_cpu_ns" -> c.cpuNs,
      "gc_ms" -> c.gcMs, "bytes_read" -> c.bytesRead,
      "rows_read" -> c.rowsRead, "rows_written" -> c.rowsWritten)
  }
}
