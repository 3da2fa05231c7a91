package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, compute, scan and shuffle counters, summed over tasks. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    inBytes: Long = 0, inRecords: Long = 0,
    shWriteBytes: Long = 0, shReadBytes: Long = 0, fetchWaitMs: Long = 0,
    spillBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    inBytes - o.inBytes, inRecords - o.inRecords,
    shWriteBytes - o.shWriteBytes, shReadBytes - o.shReadBytes,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    inBytes + o.inBytes, inRecords + o.inRecords,
    shWriteBytes + o.shWriteBytes, shReadBytes + o.shReadBytes,
    fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes)
  def toMap: Map[String, Double] = Map(
    "sched.jobs" -> jobs.toDouble, "sched.stages" -> stages.toDouble,
    "sched.tasks" -> tasks.toDouble,
    "exec.task_run_s" -> taskRunMs / 1e3, "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "scan.input_bytes" -> inBytes.toDouble, "scan.input_records" -> inRecords.toDouble,
    "shuffle.write_bytes" -> shWriteBytes.toDouble,
    "shuffle.read_bytes" -> shReadBytes.toDouble,
    "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
    "shuffle.spill_bytes" -> spillBytes.toDouble)
}

/** Benchmark-registered SparkListener: job, stage and task counts plus the
  * task metrics of the scan, shuffle and compute layers. */
final class TaskCounter extends SparkListener {
  private var c = Counters()
  def snapshot(): Counters = synchronized(c)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c + Counters(0, 0, 1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Benchmark-registered QueryExecutionListener: the planning phases
  * (analysis, optimization, planning) of every executed command, read
  * from its own QueryPlanningTracker, so nothing is planned twice. */
final class PhaseRecorder extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Phases recorded since the last call, as (name, startMs, endMs). */
  def take(): Seq[(String, Long, Long)] = synchronized {
    val out = phases.toList; phases.clear(); out
  }
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) => phases += ((n, p.startTimeMs, p.endTimeMs)) }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** One span: a named interval with its parent and the counters of the
  * work inside it. Start and end are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Double]) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, at exit. When tracing is
  * off no listener is registered and `span` only runs its body. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val counter = new TaskCounter
  private val recorder = new PhaseRecorder
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var on = false
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochOffsetNs
  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(recorder)
    on = true
  }
  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(counter)
    spark.listenerManager.unregister(recorder)
    on = false
  }
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
  def counters(): Counters = { drain(); counter.snapshot() }
  def phases(): Seq[(String, Long, Long)] = { drain(); recorder.take() }

  /** Records an interval measured elsewhere, such as a planning phase. */
  def add(parent: Int, name: String, startNs: Long, endNs: Long): Unit = {
    if (on) spans += Span(nextId, parent, name, startNs, endNs, Map.empty)
    nextId += 1
  }

  /** Runs `body` as span `name` under `parent`; with tracing on, the
    * span carries the listener counters accumulated while it ran. */
  def span[T](parent: Int, name: String)(body: Int => T): T = {
    val id = nextId; nextId += 1
    if (!on) body(id)
    else {
      val c0 = counters(); val t0 = now()
      try body(id)
      finally {
        val t1 = now()
        spans += Span(id, parent, name, t0, t1, (counters() - c0).toMap)
      }
    }
  }

  /** Self time per span name: duration minus the part covered by the
    * span's children. */
  def selfTimes(): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(_.dur).sum).toMap
    spans.groupBy(_.name).view
      .mapValues(_.map(s => s.dur - childTime.getOrElse(s.id, 0.0)).sum).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{${attrs.mkString(",")}}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
