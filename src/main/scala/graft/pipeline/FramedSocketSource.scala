package graft.pipeline

import java.io.EOFException
import java.net.Socket

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.TableBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import Framing.HeaderBytes

/** DataSource-v2 micro-batch source speaking the reference's framed TCP
  * protocol: 4-byte big-endian length header + payload per message
  * (core/source/tcp_source/framed_source_notify.pony:91-133 — the
  * reference's primary ingress). Spark-first shape: like Spark's own
  * socket source, the driver CONNECTS to the endpoint and drains frames
  * into a [[FrameBuffer]] on a daemon thread; micro-batch offsets are
  * frame indices over that buffer, trimmed on commit.
  *
  * Same caveat as Spark's socket source (and the reference's raw TCP
  * source, whose resilience comes from the connector protocol, not the
  * transport): a socket is not replayable, so this source is
  * at-most-once across restarts — for resumable ingress use
  * [[FramedLogSource]] (frame-aligned byte offsets) or [[KafkaSource]].
  *
  * Ordering contract: one connection = one stream, delivered in frame
  * order UP TO EVENT-TIME TIES. A large micro-batch decodes as several
  * parallel chunk partitions, and a downstream keyed shuffle interleaves
  * those nondeterministically — the keyed host's event-time sort then
  * restores order between distinct timestamps but not among equal ones
  * (its tie-break is stable only within one input iterator). Decoders
  * whose event times are unique per key (typical wire feeds — the bench
  * rows qualify) get full FIFO; tie-heavy decoders that need strict
  * arrival order set `ordered = true`, which plans each batch as ONE
  * partition (single-task decode, order survives any shuffle) at the
  * cost of the parallel decode. Parallelize the reference's way by
  * running N sources and `merge`.
  */
object FramedSocket {
  val ShortName = "graft-framed-socket"
}

/** The table of a framed DSv2 source ([[FramedSocketSource]],
  * [[ConnectorSocketSource]], [[FramedLogSource]]), built by the
  * source's `load()` around live objects rather than string options: the
  * decode ([[FramedReaderFactory]]) and a builder for the source's
  * MicroBatchStream. The streaming plan retains this instance, so each
  * query start (including a restart of the same DataFrame) builds a fresh
  * stream from it. */
final class FramedTable(tableName: String, rows: FramedReaderFactory,
    stream: FramedReaderFactory => MicroBatchStream) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = rows.enc.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = rows.enc.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        stream(rows)
    }
}

object FramedTable {
  /** The `load()` of every framed DSv2 source: a streaming Dataset of
    * `(T, eventTimeNs)` rows decoded inside the scan. An unsupported
    * `enc` fails here, on the driver. */
  def load[T](spark: SparkSession, name: String, decoder: FramedDecoder[T], enc: Encoder[T])(
      stream: FramedReaderFactory => MicroBatchStream): Dataset[(T, Long)] = {
    val rowEnc = Encoders.tuple(FramedReaderFactory.agnostic(enc), Encoders.scalaLong)
    val rows = FramedReaderFactory(decoder.asInstanceOf[FramedDecoder[Any]],
      rowEnc.asInstanceOf[Encoder[Any]])
    TableBridge.readStream(spark, new FramedTable(name, rows, stream)).as(rowEnc)
  }
}

/** Offset = count of frames received since connect. */
final case class FrameCount(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class FramedSocketMicroBatchStream(host: String, port: Int,
    maxFramesPerTrigger: Long, maxBufferedFrames: Int,
    ordered: Boolean,
    rows: FramedReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // The first offset Spark hands over sets the start: data in flight at a
  // crash is acknowledged lost (at-most-once, see class doc) rather than
  // silently skipping that many NEW frames.
  private val buffer = new FrameBuffer(maxBufferedFrames, s"framed-socket reader for $host:$port")

  private val socket = {
    val s = new Socket()
    // bounded connect: an unreachable endpoint must fail the query start
    // promptly, not stall the driver for the kernel's SYN timeout
    s.connect(new java.net.InetSocketAddress(host, port), 30000)
    s
  }
  private val reader = new Thread(s"${FramedSocket.ShortName}:$host:$port") {
    override def run(): Unit = {
      // BULK ingest: the wire format (4-byte big-endian length + payload)
      // IS the chunk format, so frames are never re-serialized — bytes
      // bulk-read straight into the growing chunk buffer and a boundary
      // scanner just walks the length headers to count complete frames.
      // The previous per-frame readInt/readFully + per-frame buffer
      // writes cost ~7 calls per frame; at 24-byte market-data frames
      // that was the reader thread's whole budget. Now the per-byte work
      // is two memcpys (socket→readBuf→chunk) plus a 4-byte length read
      // per frame.
      val in = socket.getInputStream
      val readBuf = new Array[Byte](1 << 16)
      var buf = new Array[Byte](FrameBuffer.ChunkBytes + (1 << 16))
      var bufLen = 0   // bytes held (complete frames + a partial tail)
      var scanPos = 0  // end of the last COMPLETE frame in buf
      var frames = 0   // complete frames in buf(0 until scanPos)
      def seal(): Unit = if (frames > 0) {
        val c = FrameChunk(frames, java.util.Arrays.copyOfRange(buf, 0, scanPos))
        // a partial frame's bytes stay behind for the next chunk — a
        // chunk must hold whole frames only (each decodes standalone)
        val tail = bufLen - scanPos
        if (tail > 0) System.arraycopy(buf, scanPos, buf, 0, tail)
        bufLen = tail; scanPos = 0; frames = 0
        // parks at the cap until the query takes a batch — TCP flow
        // control then backpressures the sender
        buffer.append(c)
      }
      try {
        while (true) {
          val n = in.read(readBuf)
          if (n < 0) throw new EOFException("sender closed")
          if (bufLen + n > buf.length)
            buf = java.util.Arrays.copyOf(buf,
              math.max(buf.length * 2, bufLen + n))
          System.arraycopy(readBuf, 0, buf, bufLen, n)
          bufLen += n
          var more = true
          while (more && bufLen - scanPos >= HeaderBytes) {
            val len = Framing.len(buf, scanPos)
            require(len >= 0, s"negative frame length $len from $host:$port")
            if (bufLen - scanPos - HeaderBytes >= len) { scanPos += HeaderBytes + len; frames += 1 }
            else more = false
          }
          if (scanPos >= FrameBuffer.ChunkBytes || (frames > 0 && in.available() == 0))
            seal()
        }
      } catch {
        case _: EOFException | _: java.net.SocketException =>
          // sender done — flush the tail chunk. seal() can park on the
          // bounded buffer; stop()'s interrupt must end that wait quietly
          // too (the sibling case below can't catch from inside a
          // handler, so an uncaught InterruptedException would escape
          // run() on every teardown-before-drain).
          try seal() catch { case _: InterruptedException => }
        case _: InterruptedException => // stop()
        case t: Throwable => buffer.fail(t) // surfaced to the query at the next trigger
      }
    }
  }
  reader.setDaemon(true)
  reader.start()

  override def initialOffset(): Offset = FrameCount(0L)
  override def deserializeOffset(json: String): Offset = FrameCount(json.toLong)
  // The cap itself is resolved at the run's FIRST latestOffset, after
  // the start position is set: prepare() runs before Spark hands us the
  // checkpointed start offset, so a cap captured here would be in
  // fresh-connection coordinates and an AvailableNow restart would cap
  // below `from` and terminate having read nothing.
  override def prepareForTriggerAvailableNow(): Unit = buffer.requestAvailableNow()
  override def reportLatestOffset(): Offset = FrameCount(buffer.total)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FrameCount].n
    buffer.startAt(from)
    // the 5 s deadline bounds the capture for a sender that never pauses
    if (buffer.availableNowPending)
      buffer.captureAvailableNow(System.currentTimeMillis() + 5000L, done = false)
    buffer.latest(from, maxFramesPerTrigger)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameCount].n
    buffer.startAt(s)
    buffer.plan(s, end.asInstanceOf[FrameCount].n, ordered)
  }
  override def createReaderFactory(): PartitionReaderFactory = rows
  override def commit(end: Offset): Unit = buffer.commit(end.asInstanceOf[FrameCount].n)
  override def stop(): Unit = {
    try socket.close() catch { case _: java.io.IOException => }
    reader.interrupt()
  }
}

/** A partition of a framed DSv2 source: its frames, as a walk the one
  * decode reader ([[FramedReaderFactory]]) consumes. */
trait FramedPartition extends InputPartition {
  def frames(): FrameWalk
}

/** Cursor over a partition's frames: after `advance()` returns true, the
  * current payload is `bytes(off until off + len)`. The walk owns the
  * bytes, so the decoder must not keep them past its call. */
abstract class FrameWalk {
  var bytes: Array[Byte] = Array.emptyByteArray
  var off = 0
  var len = 0
  def advance(): Boolean
  def close(): Unit = ()
}

/** In-scan decode shared by the framed DSv2 sources: each frame decodes
  * straight from the partition's bytes to a serialized `(T, eventTsNs)`
  * row INSIDE the DSv2 reader — the reference's own decode boundary
  * (framed_source_notify.pony:118-133 decodes inside the source notify).
  * No binary column sits between the frame bytes and the decoded row. A
  * dropping decoder drops here, before any row exists (numInputRows
  * therefore counts DECODED rows); the frame still counts toward the
  * source's offsets. Ships the decoder and the (serializable, agnostic)
  * row encoder by value; the catalyst serializer is rebuilt per reader,
  * so the reused UnsafeRow buffer is never shared across tasks. */
final case class FramedReaderFactory(
    decoder: FramedDecoder[Any], enc: Encoder[Any]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val frames = partition.asInstanceOf[FramedPartition].frames()
      private val ser = ExpressionEncoder(FramedReaderFactory.agnostic(enc)).createSerializer()
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (frames.advance())
          decoder.decodeSliceOpt(frames.bytes, frames.off, frames.len) match {
            case Some(t) =>
              current = ser((t, decoder.eventTimeNs(t)))
              return true
            case None => () // decode-time drop: the walk is already past the frame
          }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = frames.close()
    }
}

object FramedReaderFactory {
  /** `enc` as the AgnosticEncoder the reader derives its catalyst
    * serializer from; throws for any other Encoder implementation. */
  def agnostic[T](enc: Encoder[T]): AgnosticEncoder[T] = enc match {
    case a: AgnosticEncoder[T @unchecked]   => a
    case e: ExpressionEncoder[T @unchecked] => e.encoder
    case other => throw new IllegalArgumentException(
      s"unsupported Encoder implementation ${other.getClass.getName} for the " +
        "in-scan decode path: the reader derives its catalyst serializer " +
        "from an ExpressionEncoder or AgnosticEncoder (every Encoders.* / " +
        "spark.implicits encoder qualifies); build the row encoder with one " +
        "of those instead")
  }
}

/** DSL SourceConfig over the framed TCP transport: decode each frame with
  * the same [[FramedDecoder]] contract the file/log sources use (the
  * transport owns the reference-default 4-byte big-endian framing; the
  * decoder sees whole payloads). The decode runs INSIDE the DSv2 scan
  * ([[FramedReaderFactory]]), so `numInputRows` counts DECODED rows (a
  * dropping decoder's drops never become rows) and the scan's output
  * schema is the row schema. */
final case class FramedSocketSource[T](
    host: String,
    port: Int,
    decoder: FramedDecoder[T],
    maxFramesPerTrigger: Long = Long.MaxValue,
    maxBufferedFrames: Int = 1 << 20,
    ordered: Boolean = false)(implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] =
    FramedTable.load(spark, s"${FramedSocket.ShortName}:$host:$port", decoder, enc)(rows =>
      new FramedSocketMicroBatchStream(host, port, maxFramesPerTrigger, maxBufferedFrames,
        ordered, rows))
}
