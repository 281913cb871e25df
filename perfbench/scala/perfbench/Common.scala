package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Command-line options shared by every workload: `--key value` pairs. */
final class Opts(args: Seq[String]) {
  private val kv: Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  val seed: Long = long("seed")
  val seconds: Double = apply("seconds").toDouble
  val trace: Boolean = apply("trace") == "1"
  val out: String = apply("out")
}

/** Setup phases, timed from JVM start to the first timed operation. */
final class Setup {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  var setupS: Double = 0.0
  def time[A](phase: String)(f: => A): A = {
    val t0 = System.nanoTime
    try f finally phases(phase) = (System.nanoTime - t0) / 1e6
  }
  /** Call at the start of the first timed operation. */
  def done(): Unit = setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
}

/** The timed part of a run: at least `minSamples` operations, so a median
  * over them outvotes one slow operation; then more while one more, taking
  * as long as the last, would still end within `seconds`. */
final class Window(seconds: Double, minSamples: Int) {
  private val t0 = System.nanoTime
  private var lastMs = 0.0
  private var n = 0
  def done(ms: Double): Unit = { lastMs = ms; n += 1 }
  def more(): Boolean =
    n < minSamples || (System.nanoTime - t0) / 1e6 + lastMs <= seconds * 1e3
}

object Window {
  val MinSamples = 3
}

/** Spans around each call into a layer, kept in memory and written at exit.
  * A span records name, detail, start, end (ns on one clock), its parent
  * span and the trace it belongs to (one trace per timed operation). */
final case class Span(name: String, detail: String, start: Long, end: Long,
    id: Int, parent: Int, trace: String)

final class Trace(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var traceId = "setup"
  // epoch ms -> this trace's ns clock, for spans reported after the fact
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def apply[A](name: String, detail: String = "")(f: => A): A =
    if (!on) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime
      try f
      finally {
        stack = stack.tail
        spans += Span(name, detail, t0, System.nanoTime, id, parent, traceId)
      }
    }

  /** The id of the most recently closed span named `name`. */
  def lastId(name: String): Int =
    spans.reverseIterator.find(_.name == name).map(_.id).getOrElse(0)

  /** Record a span measured elsewhere, in epoch milliseconds. */
  def addEpochMs(name: String, detail: String, startMs: Long, endMs: Long, parent: Int): Unit =
    if (on) {
      nextId += 1
      spans += Span(name, detail, startMs * 1000000L + epochOffsetNs,
        endMs * 1000000L + epochOffsetNs, nextId, parent, traceId)
    }

  def write(path: String): Unit = if (on) {
    val lines = spans.map(s => Json.str(Map("name" -> s.name, "detail" -> s.detail,
      "start_ns" -> s.start, "end_ns" -> s.end, "id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace)))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  val off = new Trace(false)
}

object Json {
  def value(v: Any): JValue = v match {
    case null                => JNull
    case j: JValue           => j
    case s: String           => JString(s)
    case b: Boolean          => JBool(b)
    case i: Int              => JLong(i.toLong)
    case l: Long             => JLong(l)
    case d: Double           => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => k.toString -> value(x) })
    case s: Iterable[_]      => JArray(s.toList.map(value))
    case o: Option[_]        => o.map(value).getOrElse(JNull)
    case other               => JString(other.toString)
  }
  def str(v: Any): String = compact(render(value(v)))
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), str(v).getBytes(StandardCharsets.UTF_8))
}

/** Task-level executor counters from a SparkListener the benchmark adds. */
final class ExecCounters extends SparkListener {
  @volatile var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  @volatile var shuffleWrite, shuffleRead, spill, input = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }
  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_ms" -> runMs.toDouble, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble)
}

object ExecCounters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

/** The QueryExecution of each successful action. */
final class LastExecution extends QueryExecutionListener {
  @volatile var last: Option[QueryExecution] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every progress report of every streaming query. */
final class ProgressLog extends StreamingQueryListener {
  val reports = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The traced-mode instruments, installed and removed as one. */
final class Layers(spark: SparkSession) {
  val exec = new ExecCounters
  val execs = new LastExecution
  val progress = new ProgressLog
  private var installed = false
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(execs)
    spark.streams.addListener(progress)
    installed = true
  }
  def remove(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(execs)
    spark.streams.removeListener(progress)
    installed = false
  }
  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

object Progress {
  import scala.jdk.CollectionConverters._

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** One progress report as the per-batch fields the benchmark reads. */
  def row(p: StreamingQueryProgress): Map[String, Any] = {
    val ops = p.stateOperators.toSeq
    def eventMs(k: String): Double = Option(p.eventTime.get(k))
      .map(s => java.time.Instant.parse(s).toEpochMilli.toDouble).getOrElse(-1.0)
    Map(
      "query" -> p.name, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      // frames read since start, for sources whose offset is a frame count
      "consumed" -> p.sources.map(s => scala.util.Try(s.endOffset.trim.toLong).getOrElse(0L)).sum,
      "trigger_ms" -> d(p, "triggerExecution"), "latest_offset_ms" -> d(p, "latestOffset"),
      "get_batch_ms" -> d(p, "getBatch"), "planning_ms" -> d(p, "queryPlanning"),
      "add_batch_ms" -> d(p, "addBatch"), "wal_commit_ms" -> d(p, "walCommit"),
      "commit_offsets_ms" -> d(p, "commitOffsets"),
      "watermark_ms" -> eventMs("watermark"), "event_max_ms" -> eventMs("max"),
      "state_rows_total" -> ops.map(_.numRowsTotal).sum,
      "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_partitions" -> ops.map(_.numShufflePartitions).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum,
      "state_late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  def rows(ps: Iterable[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.toSeq.sortBy(p => (p.name, p.batchId)).map(row)

  def drainedLog(l: ProgressLog): Seq[Map[String, Any]] = rows(l.reports.asScala)
}

object Mem {
  /** Heap still in use after a full collection, in MB: what the engine
    * retains (state, caches, leaks), without the collector's slack. */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
