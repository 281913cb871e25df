package graft.pipeline

import java.io.EOFException
import java.net.Socket

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.TableBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 micro-batch source speaking the reference's framed TCP
  * protocol: 4-byte big-endian length header + payload per message
  * (core/source/tcp_source/framed_source_notify.pony:91-133 — the
  * reference's primary ingress). Spark-first shape: like Spark's own
  * socket source, the driver CONNECTS to the endpoint and drains frames
  * into an in-memory buffer on a daemon thread; micro-batch offsets are
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

  /** The 4-byte big-endian length header at `pos` — the ONE definition
    * of the wire framing's length parse (reader-thread scanner,
    * plan-time slicer, executor slice reader); a framing tweak edited
    * here reaches every copy at once. */
  private[graft] def frameLen(b: Array[Byte], pos: Int): Int =
    ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
      ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
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

/** A sealed run of concatenated framed bytes: `count` frames, each laid
  * out as [4-byte BE length][payload]. Chunks are the buffer/shipping
  * granularity: the driver holds ~frames/chunk-size objects instead of
  * one per frame, task serialization moves a handful of byte arrays
  * instead of 10⁵ small ones, and each chunk decodes as its own input
  * partition — the per-frame object overhead that capped small-frame
  * ingest at a few hundred K frames/s is gone from every hop. */
private[pipeline] final case class FrameChunk(count: Int, bytes: Array[Byte])

final class FramedSocketMicroBatchStream(host: String, port: Int,
    maxFramesPerTrigger: Long, maxBufferedFrames: Int,
    ordered: Boolean,
    rows: FramedReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Seal threshold: a chunk closes at this many bytes (or whenever the
    * socket momentarily runs dry, so a trickle stream still surfaces
    * frames to the next trigger promptly). */
  private val ChunkBytes = 1 << 20

  // Driver-side chunk buffer: `base` is the absolute frame index of the
  // first unconsumed frame, `headSkip` how many frames of chunks.head are
  // already consumed (commit can land mid-chunk), `buffered` the
  // unconsumed frame count. On restart a fresh connection knows nothing
  // about the old stream's counts, so the first offset Spark hands us
  // REBASES the buffer: new frames take indices from the checkpointed
  // position onward — the data that was in flight at the crash is
  // acknowledged lost (at-most-once, see class doc) rather than silently
  // skipping that many NEW frames.
  private val lock = new Object
  private val chunks = ArrayBuffer.empty[FrameChunk]
  private var headSkip = 0
  private var buffered = 0L
  private var base = 0L
  // Highest frame index handed to a batch via planInputPartitions. The
  // reader's backpressure parks on the UNPLANNED backlog (total −
  // planned), NOT on the full buffer: Spark only calls commit(N) after
  // batch N+1 exists, so a fast sender that fills the whole buffer into
  // one batch would otherwise deadlock — all frames delivered, commit
  // deferred until a next batch that can never form because the parked
  // reader admits no new data. Planned-but-uncommitted frames stay
  // buffered (a failed batch re-plans its range on retry), so peak
  // retention is bounded by maxBufferedFrames + one batch ≤ 2× the cap.
  private var planned = 0L
  private var rebased = false
  @volatile private var availableNowRequested = false
  @volatile private var availableNowCap: Option[Long] = None
  @volatile private var readerError: Throwable = _

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
      var buf = new Array[Byte](ChunkBytes + (1 << 16))
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
        lock.synchronized {
          // bounded buffer: park while the UNPLANNED backlog is at the
          // cap (see `planned`) until the query takes a batch — TCP
          // flow control then backpressures the sender (the reference's
          // connector-source behavior under a slow pipeline). The cap is
          // checked against backlog + THIS chunk (ADVICE r10: checking
          // only the existing backlog let the buffer overshoot by up to
          // a whole chunk); a chunk alone larger than the cap is
          // admitted only into an empty backlog, so small caps still
          // make progress and retention stays ≤ cap + max(cap, 1 chunk)
          // + one planned batch.
          while ({
            val backlog = base + buffered - math.max(planned, base)
            backlog > 0 && backlog + c.count > maxBufferedFrames
          }) lock.wait()
          chunks += c
          buffered += c.count
        }
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
          while (more && bufLen - scanPos >= 4) {
            val len = FramedSocket.frameLen(buf, scanPos)
            require(len >= 0, s"negative frame length $len from $host:$port")
            if (bufLen - scanPos - 4 >= len) { scanPos += 4 + len; frames += 1 }
            else more = false
          }
          if (scanPos >= ChunkBytes || (frames > 0 && in.available() == 0))
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
        case t: Throwable =>
          readerError = t // surfaced to the query at the next trigger
      }
    }
  }
  reader.setDaemon(true)
  reader.start()

  private def total: Long = lock.synchronized(base + buffered)
  private def checkHealthyAndRebase(from: Long): Unit = {
    if (readerError != null)
      throw new IllegalStateException(
        s"framed-socket reader for $host:$port died", readerError)
    lock.synchronized {
      if (!rebased) { if (from > base) base = from; rebased = true }
    }
  }

  override def initialOffset(): Offset = FrameCount(0L)
  override def deserializeOffset(json: String): Offset = FrameCount(json.toLong)
  // The cap itself is resolved at the run's FIRST latestOffset, after
  // the restart rebase: prepare() runs before Spark hands us the
  // checkpointed start offset, so a cap snapshotted here would be in
  // fresh-connection coordinates (base 0) while every offset after the
  // rebase is in checkpoint coordinates — an AvailableNow restart would
  // cap below `from` and terminate having read nothing.
  override def prepareForTriggerAvailableNow(): Unit = availableNowRequested = true
  override def reportLatestOffset(): Offset = FrameCount(total)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FrameCount].n
    checkHealthyAndRebase(from)
    if (availableNowRequested && availableNowCap.isEmpty) {
      // Fresh-start drain (the connector source's idle-tick heuristic):
      // "available now" over a socket only becomes observable as frames
      // arrive, and this first latestOffset fires within milliseconds
      // of connect — capping at the instantaneous total would capture
      // ~0 of a backlog the sender had queued at query start. Wait
      // until the reader goes idle for one 250 ms tick (or the 5 s
      // deadline for a sender that never pauses — any quiescence
      // heuristic over an endless stream must truncate somewhere).
      val deadline = System.currentTimeMillis() + 5000L
      var last = -1L
      var cur = total
      while (cur != last && readerError == null &&
          System.currentTimeMillis() < deadline) {
        last = cur
        Thread.sleep(250L)
        cur = total
      }
      availableNowCap = Some(total) // post-rebase coordinates
    }
    // saturating add: from + Long.MaxValue must not wrap past `total`
    val end = from + math.min(maxFramesPerTrigger, math.max(0L, total - from))
    FrameCount(math.max(from, availableNowCap.fold(end)(math.min(end, _))))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameCount].n
    val e = end.asInstanceOf[FrameCount].n
    checkHealthyAndRebase(s)
    if (e <= s) Array.empty
    else lock.synchronized {
      // a replayed-after-restart range may exceed what the fresh
      // connection has buffered — deliver what exists (at-most-once)
      var rel = headSkip + math.max(0L, s - base) // frame idx into chunks
      var remaining = math.max(0L, math.min(e, base + buffered) -
        math.max(s, base))
      val out = ArrayBuffer.empty[InputPartition]
      val it = chunks.iterator
      while (remaining > 0 && it.hasNext) {
        val c = it.next()
        if (rel >= c.count) rel -= c.count
        else {
          val take = math.min(c.count - rel, remaining).toInt
          out += slicePartition(c, rel.toInt, take)
          remaining -= take
          rel = 0
        }
      }
      // planning IS the reader's release point (commit lags a batch —
      // see `planned`); wake a parked reader now that backlog shrank
      planned = math.max(planned, math.min(e, base + buffered))
      lock.notifyAll()
      // ordered mode: the whole batch decodes as ONE task in frame
      // order, so same-key equal-event-time frames can never reorder at
      // a downstream keyed shuffle (the parallel default preserves
      // per-connection order only up to event-time ties — see class doc)
      if (ordered && out.length > 1)
        Array[InputPartition](FramedSocketOrderedPartition(
          out.toArray.map(_.asInstanceOf[FramedSocketPartition])))
      else out.toArray
    }
  }
  /** A partial-chunk batch ships only ITS slice's bytes: a throttled
    * trigger over a ~1 MB chunk would otherwise re-serialize the whole
    * array per batch (and ordered mode ships every chunk of the batch
    * to one task). The driver-side header walk replaces the executor's
    * identical O(skip) scan; full-chunk slices ship the original array
    * untouched (no copy on the common path). */
  private def slicePartition(c: FrameChunk, skip: Int, take: Int): FramedSocketPartition =
    if (skip == 0 && take == c.count) FramedSocketPartition(c.bytes, take)
    else {
      var pos = 0
      var i = 0
      while (i < skip) { pos += 4 + FramedSocket.frameLen(c.bytes, pos); i += 1 }
      val startByte = pos
      i = 0
      while (i < take) { pos += 4 + FramedSocket.frameLen(c.bytes, pos); i += 1 }
      FramedSocketPartition(java.util.Arrays.copyOfRange(c.bytes, startByte, pos), take)
    }

  override def createReaderFactory(): PartitionReaderFactory = rows

  override def commit(end: Offset): Unit = lock.synchronized {
    val e = end.asInstanceOf[FrameCount].n
    if (e > base) {
      // trim only frames actually HANDED to a batch (≤ planned): a
      // replayed-after-restart commit can cover a range the fresh
      // connection never delivered in full, and frames that arrived
      // AFTER that batch was planned must not be destroyed by its
      // commit — they stay buffered and are re-indexed from the
      // committed offset onward (this source carries no external
      // offsets, so renumbering is invisible; the at-most-once loss
      // window stays exactly "in flight at the crash").
      val deliverable = math.max(0L,
        math.min(math.min(e, planned) - base, buffered))
      var toDrop = deliverable + headSkip
      while (chunks.nonEmpty && chunks.head.count <= toDrop) {
        toDrop -= chunks.head.count
        chunks.remove(0)
      }
      headSkip = toDrop.toInt // partial head chunk: skip its consumed prefix
      buffered -= deliverable
      base = e
    }
    lock.notifyAll() // wake a parked reader
  }
  override def stop(): Unit = {
    try socket.close() catch { case _: java.io.IOException => }
    reader.interrupt()
  }
}

/** One chunk slice: `take` frames laid out back-to-back from byte 0 of
  * `bytes` (partial-chunk slices are byte-sliced at PLAN time —
  * slicePartition — so the executor never skips). Each slice is its own
  * partition, so a large batch decodes in parallel. */
final case class FramedSocketPartition(bytes: Array[Byte], take: Int)
    extends FramedPartition {
  override def frames(): FrameWalk = new SliceWalk(Array(this))
}

/** All of one micro-batch's chunk slices as ONE partition (`ordered`
  * mode): a single task walks the slices in frame order, trading the
  * parallel decode for a strict per-connection FIFO that survives any
  * downstream shuffle. */
final case class FramedSocketOrderedPartition(
    slices: Array[FramedSocketPartition]) extends FramedPartition {
  override def frames(): FrameWalk = new SliceWalk(slices)
}

/** Walks chunk slices in order, reading each length header in place: the
  * payload is handed to the decoder as a view into the slice's bytes, with
  * no per-frame copy. */
private final class SliceWalk(slices: Array[FramedSocketPartition]) extends FrameWalk {
  private var s = 0
  private var pos = 0
  private var walked = 0
  override def advance(): Boolean = {
    while (s < slices.length && walked == slices(s).take) { s += 1; pos = 0; walked = 0 }
    s < slices.length && {
      bytes = slices(s).bytes
      len = FramedSocket.frameLen(bytes, pos)
      off = pos + 4
      pos = off + len
      walked += 1
      true
    }
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
