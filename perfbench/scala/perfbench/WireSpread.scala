package perfbench

import java.nio.ByteBuffer

import org.apache.spark.sql.{Encoder, Encoders}

import graft.operators.PipelineQueries.MarketCheck
import graft.pipeline.{FramedDecoder, FramedSocketSource, Graft, TcpSink}

/** 32-byte market frame: (id << 1 | kind, user, cents, creation ns), all
  * big-endian longs, decoded to MarketCheck's input
  * (kind, event id, user, cents, event time ns). */
object MarketFrame extends FramedDecoder[(Long, Long, Long, Long, Long)] {
  def decode(p: Array[Byte]): (Long, Long, Long, Long, Long) =
    decodeSliceOpt(p, 0, p.length).get
  override def decodeSliceOpt(b: Array[Byte], off: Int, len: Int)
      : Option[(Long, Long, Long, Long, Long)] = {
    val bb = ByteBuffer.wrap(b, off, len)
    val w0 = bb.getLong
    Some((w0 & 1L, w0 >>> 1, bb.getLong, bb.getLong, bb.getLong))
  }
  def eventTimeNs(t: (Long, Long, Long, Long, Long)): Long = t._5

  /** MarketCheck's output as (event id, user, cents, quote, rejected). */
  def encodeResult(r: (Long, Long, Long, Long, Boolean)): Array[Byte] =
    ByteBuffer.allocate(33).putLong(r._1).putLong(r._2).putLong(r._3).putLong(r._4)
      .put(if (r._5) 1.toByte else 0.toByte).array()
}

/** wire_spread: the reference's Market Spread app over framed TCP.  The
  * benchmark's generator (outside this JVM) listens on `--ports`; each
  * connection is one `FramedSocketSource` leg.  Legs are merged, keyed by
  * user and run through `PipelineQueries.MarketCheck` into a `TcpSink`
  * that writes back to the generator's receiver on `--sink-port`.
  *
  * Commands on stdin: `trace` installs the traced-mode listeners, `stop`
  * stops the query and writes the result file. */
object WireSpread {
  implicit val in5: Encoder[(Long, Long, Long, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
  implicit val out5: Encoder[(Long, Long, Long, Long, Boolean)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaBoolean)

  def run(o: Opts): Unit = {
    val setup = new Setup
    implicit val spark = setup.time("build")(graft.Sessions.local("perfbench-wire_spread"))
    val layers = new Layers(spark)
    val trace = new Trace(o.trace)
    val ports = o("ports").split(",").map(_.toInt).toSeq
    val handle = setup.time("stage") {
      trace("stream.start") {
        ports.map(p => Graft.source(s"leg$p",
            FramedSocketSource("127.0.0.1", p, MarketFrame, ordered = true)))
          .reduce(_ merge _)
          .keyBy(_._3.toString)
          .to(MarketCheck)
          .toSink(TcpSink("127.0.0.1", o.int("sink-port"), MarketFrame.encodeResult),
            Some(s"${o.out}/checkpoint"))
      }
    }
    val query = handle.query.get
    println("READY"); System.out.flush()
    var traceFromMs = -1L
    val stdin = scala.io.Source.stdin.getLines()
    var stopped = false
    while (!stopped && stdin.hasNext) stdin.next().trim match {
      case "trace" => layers.install(); traceFromMs = System.currentTimeMillis()
      case "stop"  => stopped = true
      case _       =>
    }
    val failure = query.exception.map(_.getMessage)
    val heap = Mem.retainedHeapMb()
    trace("stream.stop")(handle.stop())
    layers.remove()
    val progress = Progress.drainedLog(layers.progress)
    trace.traceId = "window"
    progress.foreach { p =>
      val start = p("start_ms").asInstanceOf[Long]
      trace.addEpochMs("stream.batch", p("query").toString, start,
        start + p("trigger_ms").asInstanceOf[Double].toLong, 0)
    }
    trace.write(s"${o.out}/spans.jsonl")
    val exec = layers.exec.snapshot
    Json.write(s"${o.out}/result.json", Map(
      "workload" -> "wire_spread", "cores" -> spark.sparkContext.defaultParallelism,
      "jvm_start_ms" -> setup.jvmStartMs, "setup_phases" -> setup.phases,
      "peak_rss_mb" -> Mem.peakRssMb(), "heap_mb" -> heap, "error" -> failure,
      "trace_from_ms" -> traceFromMs, "exec" -> exec,
      "progress" -> (if (o.trace) progress else Progress.rows(query.recentProgress))))
    spark.stop()
  }
}
