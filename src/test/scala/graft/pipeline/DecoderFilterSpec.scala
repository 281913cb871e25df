package graft.pipeline

import java.io.DataOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

object DecoderFilterFixtures {
  /** Port of the reference's OddFilterDecoder
    * (testing/correctness/apps/decoder_filter/decoder_filter.pony:52-60:
    * `decode(data): (U64 | None)` keeps even numbers and returns None for
    * odd ones — the reference test for decode-time drop): 8-byte
    * big-endian u64 payloads under the default 4-byte length framing. */
  object OddFilterDecoder extends FramedDecoder[Long] {
    def decode(payload: Array[Byte]): Long =
      java.nio.ByteBuffer.wrap(payload).getLong
    override def decodeOpt(payload: Array[Byte]): Option[Long] = {
      val n = decode(payload)
      if (n % 2 == 0) Some(n) else None
    }
    def eventTimeNs(t: Long): Long = t
  }
}

/** decoder_filter ported: the framed-source decode contract is
  * `decode(payload): (T | None)` — a decoder can DROP a frame at the
  * source (heartbeats, protocol noise, filter-at-decode) and the framing
  * loop must advance past the dropped frame's bytes so every later frame
  * still decodes (the alignment half is the reason the reference tests
  * this as its own app: a drop that desynced the framing would corrupt
  * everything after it, not just lose one message). */
class DecoderFilterSpec extends AnyFunSuite {
  import DecoderFilterFixtures._
  private lazy val spark = TestSpark.spark

  private def frame(out: DataOutputStream, n: Long): Unit = {
    out.writeInt(8)
    out.writeLong(n)
  }

  /** `bytes` as one framed file, read back in frame order by a batch
    * [[FramedFileSource]] (one file is one partition). */
  private def fileRun[T: org.apache.spark.sql.Encoder](
      decoder: FramedDecoder[T], bytes: Array[Byte]): Seq[T] = {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("decoder_filter_file")
    java.nio.file.Files.write(dir.resolve("log.bin"), bytes)
    try Graft.source("decoder-filter-file-run",
        FramedFileSource(dir.toString, decoder, streaming = false))
      .dataset.collect().toSeq.map(_._1)
    finally graft.StreamBench.deleteRecursively(dir.toFile)
  }

  test("framed file source: in frame order, a dropped frame keeps the alignment and a trailing drop ends cleanly") {
    import spark.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    Seq(0L, 1L, 2L, 3L, 4L, 7L).foreach(frame(out, _)) // ends on a DROPPED frame
    // evens survive in order, odds (incl. trailing 7) vanish
    assert(fileRun(OddFilterDecoder, bos.toByteArray) === Seq(0L, 2L, 4L))
  }

  /** The TCP drop contract: the in-scan decode drops inside the DSv2
    * reader, before any row exists, and must produce exactly the evens
    * in arrival order. (This fixture's decoder does not override
    * decodeSliceOpt, so the run also covers the default
    * copy-and-delegate slice decode.) */
  private def tcpDropRun(): Seq[Long] = {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val sender = new Thread("decoder-filter-sender") {
      override def run(): Unit = {
        val conn = server.accept()
        val out = new DataOutputStream(
          new java.io.BufferedOutputStream(conn.getOutputStream))
        (0L until 20L).foreach(frame(out, _))
        out.flush()
        conn.close()
      }
    }
    sender.start()
    val view = s"decoder_filter_out_${System.nanoTime()}"
    val h = Graft.source("decoder-filter",
        FramedSocketSource("127.0.0.1", server.getLocalPort, OddFilterDecoder))
      .toSink(MemorySink(view))
    sender.join()
    // poll until all 10 surviving frames are in the sink (ADVICE r13):
    // the source's reader thread buffers asynchronously, so a fixed sleep
    // + processAllAvailable can complete on a partial prefix and flake —
    // drive micro-batches until the table reaches the expected count
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    h.processAllAvailable()
    while (spark.table(view).count() < 10 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      h.processAllAvailable()
    }
    val got = spark.table(view).collect().map(_.getLong(0)).toSeq
    h.stop()
    server.close()
    got
  }

  test("framed TCP source: odd frames dropped at decode, evens arrive intact and in order") {
    // exactly the evens, in arrival order: every value after a dropped
    // odd frame is bit-correct, so the drop consumed its bytes exactly
    assert(tcpDropRun() === (0L until 20L by 2L).toSeq)
  }

  test("framed log source: odd frames dropped in the scan, evens arrive in order, offsets cover the drops") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val log = java.nio.file.Files.createTempDirectory("decoder_filter_log")
      .resolve("log.bin").toFile
    val out = new DataOutputStream(new java.io.FileOutputStream(log))
    (0L until 20L).foreach(frame(out, _)) // ends on a DROPPED frame (19)
    out.close()
    val view = s"decoder_filter_log_out_${System.nanoTime()}"
    val h = Graft.source("decoder-filter-log",
        FramedLogSource(log.getAbsolutePath, OddFilterDecoder))
      .toSink(MemorySink(view))
    h.processAllAvailable()
    val got = spark.table(view).collect().map(_.getLong(0)).toSeq
    val end = h.query.get.lastProgress.sources.head.endOffset
    h.stop()
    graft.StreamBench.deleteRecursively(log.getParentFile)
    assert(got === (0L until 20L by 2L).toSeq)
    // the trailing dropped frame still advances the offset: 20 frames of
    // 4 + 8 bytes, so the end is the last frame's byte end
    assert(end === (20 * 12).toString)
  }

  test("framed file source: the same dropping decoder filters a framed log batch-side") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decoder_filter").toFile
    val out = new DataOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "log.bin")))
    (0L until 11L).foreach(frame(out, _))
    out.close()
    val got = Graft.source("decoder-filter-file",
        FramedFileSource(dir.getAbsolutePath, OddFilterDecoder, streaming = false))
      .dataset.collect().map(_._1).sorted.toSeq
    graft.StreamBench.deleteRecursively(dir)
    assert(got === Seq(0L, 2L, 4L, 6L, 8L, 10L))
  }

  test("a total decoder is unaffected: decodeOpt defaults to Some(decode)") {
    import spark.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    Seq("a", "bb", "").foreach(m => Framing.write(bos, m.getBytes(UTF_8)))
    assert(fileRun(FramedFixtures.StringFrames, bos.toByteArray) === Seq("a", "bb", ""))
  }
}
