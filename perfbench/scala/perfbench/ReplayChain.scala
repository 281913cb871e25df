package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.PipelineQueries.WindowCents
import graft.pipeline.{ComputationResult, Graft, ParquetReplaySource, ParquetSink, StateComputation}

/** Per-key running mean of cents; emits (user, mean so far, cents). */
final class MeanAcc extends Serializable { var sum = 0L; var n = 0L }

object RunningMean extends StateComputation[(Long, Long, Long), (Long, Long, Long), MeanAcc] {
  override val name = "running mean"
  def initialState(): MeanAcc = new MeanAcc
  def apply(e: (Long, Long, Long), st: MeanAcc): ComputationResult[(Long, Long, Long)] = {
    st.sum += e._2
    st.n += 1
    ComputationResult.One((e._1, st.sum / st.n, e._2))
  }
}

/** replay_chain: the staged input (events x N, arrival order perturbed
  * within the lateness delay) replayed as fast as the engine goes through
  * two stateful stages bridged by `Pipeline.through`: keyed running-mean
  * enrich, then keyed sliding range windows summing the enriched means.
  * Two untimed replays are the warmup (the JIT still speeds up the second
  * by a tenth); timed replays follow: at least three, then more while the
  * next, as long as the last, still ends within `--seconds`.  Every replay
  * writes its window output for the check.  In traced runs, replays
  * alternate untraced / traced, and one more replay runs on a fresh
  * local[1] session as the single-core baseline. */
object ReplayChain {
  implicit val l3: Encoder[(Long, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
  implicit val sl2: Encoder[(String, Long, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
  private val schema = StructType(Seq("user_id", "cents", "ts_ns")
    .map(StructField(_, LongType, nullable = false)))

  private def dirStats(d: String): (Int, Long) = {
    val fs = Option(new File(d).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }

  /** One replay into `dir`; returns its timings and progress reports. */
  def replay(implicit spark: SparkSession, o: Opts, dir: String, trace: Trace): Map[String, Any] = {
    val range = o.long("range-ns")
    val input = Graft.source("replay", ParquetReplaySource[(Long, Long, Long)](o("input"),
      (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2)), (r: Row) => r.getLong(2),
      maxFilesPerTrigger = o.int("files-per-trigger"), schema = Some(schema)))
    val t0 = System.nanoTime
    val t0Ms = System.currentTimeMillis()
    val (up, down) = trace("stream.start") {
      val (up, mid) = input.keyBy(_._1.toString).to(RunningMean)
        .through(s"$dir/handoff", Some(s"$dir/ckpt-up"))
      val down = mid.keyBy(_._1.toString)
        .to(Graft.rangeWindows(range).withSlide(o.long("slide-ns"))
          .withDelay(o.long("delay-ns")).over(WindowCents))
        .toSink(ParquetSink(s"$dir/out"), Some(s"$dir/ckpt-down"))
      (up, down)
    }
    trace("stream.upstream")(up.processAllAvailable())
    trace("stream.downstream")(down.processAllAvailable())
    val wallMs = (System.nanoTime - t0) / 1e6
    val progress = Progress.rows(up.query.get.recentProgress ++ down.query.get.recentProgress)
    val failure = (up.query.get.exception ++ down.query.get.exception).map(_.getMessage)
    trace("stream.stop") { up.stop(); down.stop() }
    val (files, bytes) = dirStats(s"$dir/handoff")
    Map("dir" -> dir, "start_ms" -> t0Ms, "wall_ms" -> wallMs, "progress" -> progress,
      "handoff_files" -> files, "handoff_bytes" -> bytes, "errors" -> failure.toSeq)
  }

  def run(o: Opts): Unit = {
    val setup = new Setup
    implicit val spark: SparkSession =
      setup.time("build")(graft.Sessions.local("perfbench-replay_chain"))
    val trace = new Trace(o.trace)
    val layers = new Layers(spark)
    setup.time("stage")(spark.read.schema(schema).parquet(o("input")).inputFiles)
    val warm = setup.time("warmup") {
      (0 until 2).map(i => replay(spark, o, s"${o.out}/replay-warmup$i", Trace.off))
    }
    setup.done()

    val replays = ArrayBuffer[Map[String, Any]]()
    val window = new Window(o.seconds, if (o.trace) 2 * Window.MinSamples else Window.MinSamples)
    var i = 0
    while (window.more()) {
      val traced = o.trace && i % 2 == 1
      if (traced) layers.install()
      trace.traceId = s"replay$i"
      val exec0 = layers.exec.snapshot
      val r = (if (traced) trace else Trace.off)("replay", s"$i") {
        replay(spark, o, s"${o.out}/replay-$i", if (traced) trace else Trace.off)
      }
      val extra = if (traced) {
        layers.drain()
        val id = trace.lastId("replay")
        Progress.drainedLog(layers.progress).foreach { p =>
          val start = p("start_ms").asInstanceOf[Long]
          trace.addEpochMs("stream.batch", p("query").toString, start,
            start + p("trigger_ms").asInstanceOf[Double].toLong, id)
        }
        layers.progress.reports.clear()
        Map("exec" -> ExecCounters.delta(exec0, layers.exec.snapshot))
      } else Map.empty
      layers.remove()
      window.done(r("wall_ms").asInstanceOf[Double])
      replays += r ++ extra ++ Map("traced" -> traced)
      i += 1
    }
    val heap = Mem.retainedHeapMb()
    val peak = Mem.peakRssMb()
    val cores = spark.sparkContext.defaultParallelism
    trace.write(s"${o.out}/spans.jsonl")

    // single-core baseline: same replay on a fresh local[1] session
    val single = if (!o.trace) None else {
      spark.stop()
      val one = graft.Sessions.tune(SparkSession.builder()
        .appName("perfbench-replay_chain-local1").master("local[1]"), "1").getOrCreate()
      one.sparkContext.setLogLevel("WARN")
      try Some(replay(one, o, s"${o.out}/replay-local1", Trace.off))
      finally one.stop()
    }
    Json.write(s"${o.out}/result.json", Map(
      "workload" -> "replay_chain", "cores" -> cores,
      "jvm_start_ms" -> setup.jvmStartMs, "setup_s" -> setup.setupS,
      "setup_phases" -> setup.phases, "peak_rss_mb" -> peak, "heap_mb" -> heap,
      "warmups" -> warm, "replays" -> replays.toSeq, "local1" -> single))
    if (!o.trace) spark.stop()
  }
}
