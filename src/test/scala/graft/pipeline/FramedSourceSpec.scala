package graft.pipeline

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

object FramedFixtures {
  /** UTF-8 payload with the default 4-byte big-endian length header —
    * the exact framing TcpSink writes. */
  object StringFrames extends FramedDecoder[String] {
    def decode(payload: Array[Byte]): String = new String(payload, UTF_8)
    def eventTimeNs(t: String): Long = t.length.toLong * 1000000000L
  }
}

/** Framed binary decode (core/source/source_handler.pony:21-28) over the
  * binaryFile source: a log written with TcpSink's framing reads back
  * identically — sink and source are inverse by construction.
  */
class FramedSourceSpec extends AnyFunSuite {
  import FramedFixtures._
  private lazy val spark = TestSpark.spark

  private def writeFramed(dir: java.io.File, name: String, msgs: Seq[String]): Unit = {
    val out = new DataOutputStream(new FileOutputStream(new java.io.File(dir, name)))
    msgs.foreach { m =>
      val payload = m.getBytes(UTF_8)
      out.writeInt(payload.length) // big-endian, same as TcpSink
      out.write(payload)
    }
    out.close()
  }

  test("batch: framed files round-trip through the decoder with event times") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val dir = Files.createTempDirectory("framed").toFile
    writeFramed(dir, "a.bin", Seq("alpha", "bb", ""))
    writeFramed(dir, "b.bin", Seq("zzzz"))
    val got = Graft
      .source("framed", FramedFileSource(dir.getAbsolutePath, StringFrames, streaming = false))
      .dataset.collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq("", "alpha", "bb", "zzzz"))
    // event time is stamped by the decoder at the source
    assert(got.forall { case (s, ts) => ts == s.length.toLong * 1000000000L })
  }

  test("streaming: the same files replay as a stream") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val dir = Files.createTempDirectory("framed-stream").toFile
    writeFramed(dir, "a.bin", Seq("one", "two"))
    writeFramed(dir, "b.bin", Seq("three"))
    val p = Graft.source("framed-s",
      FramedFileSource(dir.getAbsolutePath, StringFrames))
    assert(p.isStreaming)
    val view = s"framed_out_${System.nanoTime()}"
    val h = p.toSink(MemorySink(view))
    h.processAllAvailable()
    h.stop()
    val got = spark.table(view).collect().map(_.getString(0)).sorted
    assert(got.toSeq === Seq("one", "three", "two"))
  }

  test("truncated frames fail loudly") {
    def walkAll(bytes: Array[Byte]): Unit = {
      val w = Framing.walk(bytes, 0, bytes.length)
      while (w.advance()) ()
    }
    // a whole frame, then a payload that claims 5 bytes and has 2
    val payload = intercept[IllegalArgumentException](
      walkAll(Array[Byte](0, 0, 0, 1, 'x', 0, 0, 0, 5, 'h', 'i')))
    assert(payload.getMessage.contains("at 5"), payload.getMessage)
    // a header cut after 3 of its 4 bytes
    val header = intercept[IllegalArgumentException](walkAll(Array[Byte](0, 0, 0)))
    assert(header.getMessage.contains("truncated frame header at 0"), header.getMessage)
  }

  test("a header with bit 31 set fails as a corrupt frame, in memory and on a stream") {
    val bytes = Array[Byte](0x80.toByte, 0, 0, 2, 'h', 'i') // reads as a negative length
    val w = Framing.walk(bytes, 0, bytes.length)
    val walked = intercept[IllegalArgumentException](w.advance())
    assert(walked.getMessage.contains("corrupt frame payload at 0"), walked.getMessage)
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val read = intercept[IllegalArgumentException](Framing.read(in))
    assert(read.getMessage.contains("negative frame length"), read.getMessage)
  }

  test("framed TCP transport: frames arrive in order across micro-batches over a real socket") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    // The test plays the sender: a server that, once the source connects,
    // writes length-framed messages in two bursts.
    val server = new java.net.ServerSocket(0)
    val firstBurstSent = new java.util.concurrent.CountDownLatch(1)
    val sendSecondBurst = new java.util.concurrent.CountDownLatch(1)
    val sender = new Thread("framed-test-sender") {
      override def run(): Unit = {
        val conn = server.accept()
        val out = new DataOutputStream(conn.getOutputStream)
        def send(msgs: Seq[String]): Unit = {
          msgs.foreach { m =>
            val payload = m.getBytes(UTF_8)
            out.writeInt(payload.length)
            out.write(payload)
          }
          out.flush()
        }
        send(Seq("m1", "m2", "m3"))
        firstBurstSent.countDown()
        sendSecondBurst.await()
        send(Seq("m4", "m5"))
        conn.close()
      }
    }
    sender.start()
    val view = s"framed_socket_out_${System.nanoTime()}"
    val h = Graft.source("framed-tcp",
        FramedSocketSource("127.0.0.1", server.getLocalPort, StringFrames))
      .toSink(MemorySink(view))
    firstBurstSent.await()
    Thread.sleep(200) // let the reader thread drain the burst
    h.processAllAvailable()
    val afterFirst = spark.table(view).collect().map(_.getString(0)).toSeq
    sendSecondBurst.countDown()
    sender.join()
    Thread.sleep(200)
    h.processAllAvailable()
    val got = spark.table(view).collect().map(_.getString(0)).toSeq
    h.stop()
    server.close()
    assert(afterFirst === Seq("m1", "m2", "m3")) // first burst in its own batch(es)
    assert(got === Seq("m1", "m2", "m3", "m4", "m5")) // order preserved across batches
  }

  test("maxFramesPerTrigger paces admission without losing or reordering frames") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val sender = new Thread("framed-paced-sender") {
      override def run(): Unit = {
        val conn = server.accept()
        val out = new DataOutputStream(conn.getOutputStream)
        (0 until 10).foreach { i =>
          val payload = s"f$i".getBytes(UTF_8)
          out.writeInt(payload.length)
          out.write(payload)
        }
        out.flush()
        conn.close()
      }
    }
    sender.start()
    val view = s"framed_paced_out_${System.nanoTime()}"
    val h = Graft.source("framed-paced",
        FramedSocketSource("127.0.0.1", server.getLocalPort, StringFrames,
          maxFramesPerTrigger = 3))
      .toSink(MemorySink(view))
    sender.join()
    Thread.sleep(200)
    h.processAllAvailable()
    val got = spark.table(view).collect().map(_.getString(0)).toSeq
    val batches = h.query.get.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows)
    h.stop()
    server.close()
    assert(got === (0 until 10).map(i => s"f$i")) // all frames, in order
    assert(batches.forall(_ <= 3) && batches.length >= 4, s"batches: ${batches.toSeq}")
  }

  test("ordered mode plans one partition per batch, preserving strict frame order") {
    // The parallel default decodes a batch as one partition PER CHUNK,
    // so equal-event-time frames can reorder at a downstream keyed
    // shuffle; ordered=true must fold all chunk slices into ONE
    // partition whose reader walks them in frame order. Driven at the
    // DSv2 level so the multi-chunk shape is constructed and asserted
    // deterministically.
    // > 2 chunk-seal thresholds of frames (1 KB payload × 3000 ≈ 3 MB vs
    // the 1 MB ChunkBytes seal), so the reader MUST seal ≥ 2 chunks
    // whatever the thread scheduling — no reliance on burst timing.
    val n = 3000
    def payloadOf(i: Int): Array[Byte] =
      (f"f$i%04d" + "x" * 995).getBytes(UTF_8)
    val server = new java.net.ServerSocket(0)
    val sender = new Thread("framed-ordered-sender") {
      override def run(): Unit = {
        val conn = server.accept()
        val out = new DataOutputStream(
          new java.io.BufferedOutputStream(conn.getOutputStream))
        (0 until n).foreach { i =>
          val payload = payloadOf(i)
          out.writeInt(payload.length)
          out.write(payload)
        }
        out.flush()
        conn.close()
      }
    }
    sender.start()
    val dec = StringFrames.asInstanceOf[FramedDecoder[Any]]
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong)
      .asInstanceOf[org.apache.spark.sql.Encoder[Any]]
    val stream = new FramedSocketMicroBatchStream(
      "127.0.0.1", server.getLocalPort, Long.MaxValue, 1 << 20, ordered = true,
      FramedReaderFactory(dec, enc))
    try {
      sender.join()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (stream.reportLatestOffset().asInstanceOf[FrameCount].n < n &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val end = stream.latestOffset(FrameCount(0),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      assert(end.asInstanceOf[FrameCount].n === n.toLong)
      val parts = stream.planInputPartitions(FrameCount(0), end)
      assert(parts.length === 1, s"ordered mode must plan ONE partition, got ${parts.length}")
      val ord = parts(0).asInstanceOf[FrameChunkPartition]
      assert(ord.slices.length >= 2,
        s"a ${n} KB stream must span multiple 1 MB chunks (got ${ord.slices.length} slice)")
      val reader = FramedReaderFactory(dec, enc).createReader(parts(0))
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      while (reader.next())
        got += reader.get().getUTF8String(0).toString.take(5)
      assert(got.toSeq === (0 until n).map(i => f"f$i%04d"),
        "strict FIFO across chunk boundaries")
    } finally {
      stream.stop()
      server.close()
    }
  }

  test("a stream larger than maxBufferedFrames drains (deferred-commit wedge regression)") {
    // Spark only commits batch N after batch N+1 exists, so a reader that
    // parks at the buffer cap until COMMIT frees slots deadlocks the
    // moment an entire buffer-full lands in one batch: all frames
    // delivered, nothing committed, no new data to form the next batch.
    // The fix releases backpressure at PLAN time (`planned`); this pins
    // it by pushing 10x the cap through a tiny buffer.
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val n = 200
    val server = new java.net.ServerSocket(0)
    val sender = new Thread("framed-overrun-sender") {
      override def run(): Unit = {
        val conn = server.accept()
        val out = new DataOutputStream(
          new java.io.BufferedOutputStream(conn.getOutputStream))
        (0 until n).foreach { i =>
          val payload = s"x$i".getBytes(UTF_8)
          out.writeInt(payload.length)
          out.write(payload)
        }
        out.flush()
        conn.close()
      }
    }
    sender.start()
    val view = s"framed_overrun_out_${System.nanoTime()}"
    val h = Graft.source("framed-overrun",
        FramedSocketSource("127.0.0.1", server.getLocalPort, StringFrames,
          maxBufferedFrames = 20)) // 10x smaller than the stream
      .toSink(MemorySink(view))
    sender.join()
    // drain with a deadline: the pre-fix behavior hangs forever here
    val deadline = System.nanoTime() + 60L * 1000000000L
    var count = 0L
    while (count < n && System.nanoTime() < deadline) {
      h.processAllAvailable()
      count = spark.table(view).count()
    }
    val got = spark.table(view).collect().map(_.getString(0)).toSeq
    h.stop()
    server.close()
    assert(got === (0 until n).map(i => s"x$i"),
      s"drained ${got.length}/$n frames before the deadline")
  }

  /** One framed DSv2 source per case, fed in two bursts: `feed(k)` makes
    * burst k available (k = 0, 1) before the k-th query start. */
  private case class Restartable(name: String, source: SourceConfig[String],
      feed: Int => Unit, secondRun: Seq[String], close: () => Unit)
  private val bursts = Seq(Seq("a1", "a2"), Seq("b1", "b2", "b3"))

  private def restartables(): Seq[Restartable] = {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    // raw socket: at-most-once, one connection per query start, and each
    // connection gets its own burst
    val server = new java.net.ServerSocket(0)
    val sender = new Thread("framed-restart-sender") {
      override def run(): Unit =
        try bursts.foreach { burst =>
          val conn = server.accept()
          val out = new DataOutputStream(conn.getOutputStream)
          burst.foreach { m =>
            val p = m.getBytes(UTF_8); out.writeInt(p.length); out.write(p)
          }
          out.flush(); conn.close()
        } catch { case _: java.io.IOException => }
    }
    sender.setDaemon(true); sender.start()
    // connector: every connection replays from the resume point (0 without
    // a checkpoint) whatever the sender holds by then
    val held = new java.util.concurrent.CopyOnWriteArrayList[Array[Byte]]()
    val replay = new ProtocolPeers.ReplaySender(new IndexedSeq[Array[Byte]] {
      def apply(i: Int): Array[Byte] = held.get(i)
      def length: Int = held.size
    }, cookie = "c")
    // log: appended per burst, read from byte 0 by each fresh query
    val log = Files.createTempDirectory("framed-restart").resolve("r.log").toFile
    Seq(
      Restartable("socket",
        FramedSocketSource("127.0.0.1", server.getLocalPort, StringFrames),
        _ => (), bursts(1), () => server.close()),
      Restartable("connector",
        ConnectorSocketSource("127.0.0.1", replay.server.getLocalPort, StringFrames),
        k => bursts(k).foreach(m => held.add(m.getBytes(UTF_8))), bursts.flatten,
        () => replay.close()),
      Restartable("log", FramedLogSource(log.getAbsolutePath, StringFrames),
        k => writeFramed(log.getParentFile, log.getName, bursts.take(k + 1).flatten),
        bursts.flatten, () => ()))
  }

  test("stop → restart of one loaded DataFrame reads the second burst, for every framed DSv2 source") {
    // the plan retains the table built by load(); each query start builds
    // a fresh stream from it, with the decoder the table holds
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    restartables().foreach { r =>
      val pipe = Graft.source(s"restart-${r.name}", r.source)
      def runOnce(k: Int, expect: Int): Seq[String] = {
        r.feed(k)
        val view = s"framed_restart_${r.name}_${k}_${System.nanoTime()}"
        val h = pipe.toSink(MemorySink(view))
        val deadline = System.nanoTime() + 60L * 1000000000L
        var got = Seq.empty[String]
        while (got.length < expect && System.nanoTime() < deadline) {
          Thread.sleep(50)
          h.processAllAvailable()
          got = spark.table(view).collect().map(_.getString(0)).toSeq
        }
        h.stop()
        got
      }
      try {
        assert(runOnce(0, 2).sorted === bursts(0), r.name)
        assert(runOnce(1, r.secondRun.length).sorted === r.secondRun, r.name)
      } finally r.close()
    }
  }

  test("an unsupported Encoder implementation fails inside load(), driver-side, for every framed DSv2 source") {
    implicit val bogus: org.apache.spark.sql.Encoder[String] =
      new org.apache.spark.sql.Encoder[String] {
        def schema: org.apache.spark.sql.types.StructType =
          new org.apache.spark.sql.types.StructType().add("value", "string")
        def clsTag: scala.reflect.ClassTag[String] = scala.reflect.classTag[String]
      }
    // no peer listens on port 1 and no log exists: load() opens nothing
    Seq(FramedSocketSource("127.0.0.1", 1, StringFrames),
        ConnectorSocketSource("127.0.0.1", 1, StringFrames),
        FramedLogSource("/nonexistent/framed.log", StringFrames)).foreach { src =>
      val e = intercept[IllegalArgumentException](src.load(spark))
      assert(e.getMessage.contains("unsupported Encoder implementation"), src)
    }
  }
}
