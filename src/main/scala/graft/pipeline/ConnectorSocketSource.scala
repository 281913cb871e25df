package graft.pipeline

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}

/** The connector-protocol ingress: at-least-once framed TCP with
  * points-of-reference acknowledgment, the ack half of the reference's
  * credit-based connector protocol (docs/proposals/connector-protocol-v3
  * .md; core/source/connector_source/). [[FramedSocketSource]] speaks raw
  * framing and is at-most-once across restarts; this source adds the
  * protocol conversation that makes a socket RESUMABLE:
  *
  *  - handshake: sender → HELLO (cookie/program/instance), driver → OK,
  *    sender → NOTIFY (its available point of reference), driver →
  *    NOTIFY_ACK carrying the CHECKPOINT-COMMITTED frame count — "resume
  *    from here"; per the protocol, the sender must use the NOTIFY_ACK's
  *    point of reference, which is how a restarted query re-requests
  *    exactly the frames its checkpoint never committed.
  *  - MESSAGE frames carry an explicit u64 message id; duplicates below
  *    the expected id (replay overlap) are dropped, a GAP above it gets a
  *    RESTART frame (protocol: "worker requests that all streams be
  *    reprocessed") and a reconnect-with-resume.
  *  - on every micro-batch COMMIT the driver writes ACK(committed count,
  *    credits) back to the sender — the protocol's checkpoint-completed
  *    progress report (v3 §ACK: "all MESSAGEs with MessageIds less than
  *    the reported point of reference are included in the checkpoint") —
  *    so the sender can trim its replay buffer.
  *  - credit-based flow control (v3's ACK credits): the OK frame's u64 is
  *    the initial credit grant — the buffer space available at handshake
  *    (`maxBufferedFrames` minus anything already held across a
  *    reconnect) — and each commit-time ACK carries a second u64
  *    replenishing exactly the slots the commit freed. A sender that
  *    spends one credit per MESSAGE and pauses at zero can never overrun
  *    the buffer (grants = capacity + frames freed, so outstanding ≤
  *    capacity); the [[FrameBuffer]]'s park on its unplanned backlog
  *    stays as the backstop for trivial senders that ignore credits,
  *    which v3 explicitly permits.
  *  - EOS_MESSAGE ends the stream (no reconnect).
  *
  * Wire format: every frame is 4-byte big-endian length + 1 type byte +
  * body, the v3 framing. Deliberately NOT implemented from the protocol:
  * stream multiplexing (one connection = one stream;
  * run N sources and `merge`, the reference's own parallelism model).
  *
  * Scale shape: the driver-side [[FrameBuffer]] the raw socket source
  * also uses is the only state. Accepted payloads are laid out in its 1 MB
  * [len][payload] chunks, and a batch ships its chunk slices as ONE
  * ordered partition. Offsets are frame counts, so checkpoints are a
  * single u64 per batch. One socket is one ordered stream — parallel
  * ingress is N sources, not one fat one, exactly like the reference's
  * per-connection connector sources. */
object ConnectorProtocol {
  val Hello: Byte = 0
  val Ok: Byte = 1
  val Error: Byte = 2
  val Notify: Byte = 3
  val NotifyAck: Byte = 4
  val Message: Byte = 5
  val Ack: Byte = 6
  val Restart: Byte = 7
  val EosMessage: Byte = 8

  val ShortName = "graft-connector-socket"

  def writeFrame(out: DataOutputStream, body: Array[Byte]): Unit = {
    Framing.write(out, body)
    out.flush()
  }
  def typed(tpe: Byte, rest: Array[Byte] = Array.empty): Array[Byte] = {
    val b = new Array[Byte](1 + rest.length)
    b(0) = tpe
    System.arraycopy(rest, 0, b, 1, rest.length)
    b
  }
  def u64(n: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(n).array()
  def readU64(body: Array[Byte], off: Int): Long =
    java.nio.ByteBuffer.wrap(body, off, 8).getLong
  /** v3 `short_bytes`: u16 length + bytes. */
  def shortBytes(s: String): Array[Byte] = {
    val d = s.getBytes(UTF_8)
    java.nio.ByteBuffer.allocate(2 + d.length).putShort(d.length.toShort).put(d).array()
  }
  def readShortBytes(body: Array[Byte], off: Int): (String, Int) = {
    val len = java.nio.ByteBuffer.wrap(body, off, 2).getShort & 0xffff
    (new String(body, off + 2, len, UTF_8), off + 2 + len)
  }
  def readFrame(in: DataInputStream): Array[Byte] = {
    val body = Framing.read(in)
    require(body.length >= 1, "connector frame must carry a type byte, got an empty frame")
    body
  }
}

final class ConnectorSocketMicroBatchStream(host: String, port: Int,
    maxFramesPerTrigger: Long, maxBufferedFrames: Int,
    cookie: Option[String], replayTimeoutMs: Long, rows: FramedReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import ConnectorProtocol._

  // The half-window cap in latestOffset needs a window of at least 2:
  // at 1, max(1, 1/2) lets a single batch swallow the whole credit
  // window and the deferred-commit wedge it exists to prevent returns.
  require(maxBufferedFrames >= 2,
    s"maxBufferedFrames must be >= 2 (got $maxBufferedFrames): a 1-frame " +
      "credit window cannot keep the commit-to-ACK cascade live")

  // Buffer indices are absolute message ids. The connection is LAZY: it
  // starts on the first offset-bearing callback, which carries the
  // checkpoint-committed resume point.
  private val buffer = new FrameBuffer(maxBufferedFrames, s"connector-socket manager for $host:$port")
  @volatile private var eos = false
  @volatile private var stopped = false
  @volatile private var currentSocket: Socket = _

  private val outLock = new Object
  @volatile private var outStream: DataOutputStream = _
  // Credit-epoch bookkeeping (see the handshake grant comment): freed
  // slots whose commit-time ACK found a null outStream, to be replenished
  // right after the handshake publishes the new stream; the epoch pins
  // which grant snapshot a commit's trim preceded. Guarded by `buffer`
  // (grantEpoch) / `outLock` (droppedAckFreed); lock order outLock → buffer.
  private var grantEpoch = 0L
  private var droppedAckFreed = 0L

  private def sendToPeer(body: Array[Byte]): Unit = outLock.synchronized {
    val o = outStream
    if (o != null) {
      try writeFrame(o, body)
      catch { case _: java.io.IOException => } // peer gone; reconnect loop handles it
    }
  }

  /** Connect + handshake + drain, reconnecting (1 s backoff) until EOS,
    * stop(), or an unrecoverable protocol error. */
  private val manager = new Thread(s"${ShortName}:$host:$port") {
    // The open chunk: accepted MESSAGE payloads in the buffer's
    // [len][payload] layout, not yet sealed. They count toward
    // expectedNext, and survive a reconnect until the next seal.
    private val chunk = new java.io.ByteArrayOutputStream(FrameBuffer.ChunkBytes)
    private var chunkFrames = 0
    private def expectedNext: Long = buffer.total + chunkFrames
    private def seal(): Unit = if (chunkFrames > 0) {
      buffer.append(FrameChunk(chunkFrames, chunk.toByteArray))
      chunk.reset()
      chunkFrames = 0
    }

    override def run(): Unit = {
      while (!stopped && !eos && !buffer.failed) {
        var socket: Socket = null
        try {
          socket = new Socket()
          // bounded connect: an unreachable peer must hand control back
          // to the reconnect loop promptly, not stall each attempt for
          // the kernel's SYN timeout (the resolve/replay deadlines in
          // latestOffset/planInputPartitions assume timely attempts)
          socket.connect(new java.net.InetSocketAddress(host, port), 30000)
          currentSocket = socket
          // stop() may have read currentSocket as null just before the
          // connect completed — it can then never close THIS socket, and
          // interrupt() cannot unblock socket reads; bail out here so the
          // finally closes it instead of parking in readFrame forever
          if (stopped) throw new EOFException("stopped during connect")
          val in = new DataInputStream(socket.getInputStream)
          val out = new DataOutputStream(socket.getOutputStream)
          // ---- handshake (sender is the protocol's connector side)
          val hello = readFrame(in)
          require(hello(0) == Hello, s"expected HELLO, got type ${hello(0)}")
          cookie.foreach { c =>
            // a bodyless HELLO must read as a cookie mismatch, not an
            // IndexOutOfBounds that masks the protocol error
            val got = if (hello.length >= 3) readShortBytes(hello, 1)._1 else ""
            if (got != c) {
              writeFrame(out, typed(Error, shortBytes("bad cookie")))
              throw new IllegalArgumentException(
                s"connector HELLO cookie mismatch from $host:$port")
            }
          }
          // frames left open by the last session are in order: seal them
          // so the grant and the resume point both count them
          seal()
          // initial credit grant = buffer space available right now (a
          // reconnect may find frames still held from the last session).
          // The grant SNAPSHOT also opens a new credit epoch: a commit
          // whose trim lands before this point is reflected in the grant
          // (held already reduced), one landing after must be ACKed once
          // outStream is live — droppedAckFreed accumulates exactly the
          // post-snapshot trims whose ACK found a null stream, and the
          // epoch counter keeps a pre-snapshot commit from recording
          // itself after the fact (the double-credit / lost-credit
          // ratchet either way would permanently shrink a credit-honoring
          // sender's window). A sender that ignored credits may have
          // overfilled the buffer: grant nothing then, not a negative u64.
          val grant = outLock.synchronized(buffer.synchronized {
            droppedAckFreed = 0L
            grantEpoch += 1
            math.max(0L, maxBufferedFrames - buffer.held)
          })
          writeFrame(out, typed(Ok, u64(grant)))
          val notify = readFrame(in)
          require(notify(0) == Notify, s"expected NOTIFY, got type ${notify(0)}")
          writeFrame(out, typed(NotifyAck, u64(expectedNext)))
          outLock.synchronized {
            outStream = out
            if (droppedAckFreed > 0) {
              // replenish the slots freed during the handshake window
              try writeFrame(out, typed(Ack, u64(buffer.committed) ++ u64(droppedAckFreed)))
              catch { case _: java.io.IOException => }
              droppedAckFreed = 0L
            }
          }
          // ---- message loop
          var open = true
          while (open) {
            val f = readFrame(in)
            f(0) match {
              case Message =>
                if (f.length < 9)
                  throw new IllegalStateException(
                    s"connector peer $host:$port sent a ${f.length}-byte MESSAGE, " +
                      "shorter than its 9-byte header (type byte + u64 message id)")
                val id = readU64(f, 1)
                val next = expectedNext
                if (id == next) {
                  Framing.write(chunk, f, 9, f.length - 9)
                  chunkFrames += 1
                } else if (id > next) {
                  // gap: the sender skipped ids we never saw — demand a
                  // full re-handshake at our point of reference
                  sendToPeer(typed(Restart))
                  open = false
                } else {
                  // id < next, replay overlap: drop it. The duplicate
                  // consumed a sender credit without ever occupying a
                  // buffer slot; commit-time ACKs only replenish freed
                  // SLOTS, so without this immediate refund a
                  // credit-honoring sender with replay overlap bleeds
                  // credits and can stall mid-replay. The ACK's point of
                  // reference is the unchanged committed count.
                  sendToPeer(typed(Ack, u64(buffer.committed) ++ u64(1L)))
                }
              case EosMessage =>
                // end of stream, but NOT of the session: stay parked in
                // readFrame so the connection remains open for the
                // trailing commit-time ACKs (the sender drains its replay
                // buffer on them) until stop() closes the socket. Seal
                // first: a waiter that sees `eos` must see every frame.
                seal()
                eos = true
              case Error =>
                // a truncated ERROR frame must still surface AS the
                // peer's error signal, not as an IndexOutOfBounds
                val msg = if (f.length >= 3) readShortBytes(f, 1)._1 else "<no body>"
                throw new IllegalStateException(
                  s"connector peer $host:$port sent ERROR: $msg")
              case _ => // future frame types: ignore
            }
            if (chunk.size >= FrameBuffer.ChunkBytes || in.available() == 0) seal()
          }
        } catch {
          // No `if !stopped` guards on these arms: stop() closes the
          // socket under a parked readFrame, so the GRACEFUL teardown
          // path throws SocketException here — an unmatched guard would
          // rethrow it out of run() into the uncaught-exception handler
          // on every stop. The loop condition decides reconnect-vs-exit.
          case _: EOFException | _: java.net.SocketException
               | _: java.net.SocketTimeoutException => // peer dropped / stop / bounded connect
          case _: InterruptedException => // stop()
          case t: Throwable => if (!stopped) buffer.fail(t)
        } finally {
          outLock.synchronized { outStream = null }
          currentSocket = null
          if (socket != null) { try socket.close() catch { case _: java.io.IOException => } }
        }
        if (!stopped && !eos && !buffer.failed)
          try Thread.sleep(1000L) catch { case _: InterruptedException => }
      }
    }
  }
  manager.setDaemon(true)

  private def ensureStarted(from: Long): Unit = if (buffer.startAt(from)) manager.start()

  override def initialOffset(): Offset = FrameCount(0L)
  override def deserializeOffset(json: String): Offset = FrameCount(json.toLong)
  // The connection is lazy (it starts on the first offset-bearing call,
  // which carries the resume point), so at prepare() time the buffer is
  // always empty — capturing it here would clamp every batch to empty and
  // an AvailableNow query would silently read nothing. Defer: resolve the
  // capture on the first latestOffset after the handshake.
  override def prepareForTriggerAvailableNow(): Unit = buffer.requestAvailableNow()
  override def reportLatestOffset(): Offset = FrameCount(buffer.total)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")

  /** Resolve the deferred AvailableNow cap: wait for the handshake to
    * COMPLETE (outStream is set right after NOTIFY_ACK — without this
    * gate a connect slower than one idle tick resolved the cap to the
    * start offset and the query read zero frames), then let the buffer's
    * idle-tick capture wait out the sender's backlog, stopping early at
    * EOS, all within `replayTimeoutMs`. */
  private def resolveAvailableNowCap(): Unit = {
    val deadline = System.currentTimeMillis() + replayTimeoutMs
    while (outStream == null && !eos && !buffer.failed &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20L)
    buffer.check()
    // an unreachable sender must FAIL the AvailableNow run, not resolve
    // the cap to the start offset and terminate 'successfully' with
    // zero rows (the caller could never distinguish 'nothing available'
    // from 'never connected') — same contract as planInputPartitions'
    // replay timeout
    if (outStream == null && !eos)
      throw new IllegalStateException(
        s"connector peer $host:$port did not complete a handshake within " +
          s"${replayTimeoutMs}ms — cannot resolve the AvailableNow capture point")
    buffer.captureAvailableNow(deadline, eos)
  }

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FrameCount].n
    ensureStarted(from)
    if (buffer.availableNowPending) resolveAvailableNowCap()
    // Half-window cap: credits replenish on commit(), and Spark only
    // commits batch N while constructing batch N+2 — so a batch that
    // swallowed the ENTIRE credit window would leave the sender stalled
    // at zero credits with no further batch to ride the commit out on
    // (the same deferred-commit wedge the framed socket source hit at
    // its buffer cap). Capping one batch at half the buffer guarantees
    // the leftover half forms the next batch, whose construction commits
    // the previous one and ACKs its slots back to the sender — the
    // cascade that keeps credit flow live at any stream length.
    buffer.latest(from,
      math.min(maxFramesPerTrigger, math.max(1L, maxBufferedFrames.toLong / 2)))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Plans `[s, e)` as ONE ordered partition: a single task decodes the
    * batch in message-id order. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameCount].n
    val e = end.asInstanceOf[FrameCount].n
    ensureStarted(s)
    if (e > s) {
      // A restart replays the last planned batch from the checkpointed
      // offsets; the handshake asked the sender to resend from `s`, so
      // WAIT for the replayed range instead of delivering a short
      // (lossy) batch.
      val deadline = System.currentTimeMillis() + replayTimeoutMs
      buffer.synchronized {
        while (buffer.total < e && !buffer.failed && !eos &&
            System.currentTimeMillis() < deadline)
          buffer.wait(100L)
      }
      buffer.check()
      if (buffer.total < e)
        throw new IllegalStateException(
          s"connector peer $host:$port did not replay frames [$s,$e) within " +
            s"${replayTimeoutMs}ms of the NOTIFY_ACK resume request " +
            s"(have ${buffer.total}) — at-least-once needs the sender to " +
            "retain frames past the last ACK")
    }
    buffer.plan(s, e, ordered = true)
  }
  override def createReaderFactory(): PartitionReaderFactory = rows

  /** Batch durably committed: trim the local buffer and report progress
    * to the sender — the ACK that lets it trim ITS replay buffer. The
    * second u64 replenishes credits: exactly the buffer slots this
    * commit freed (v3 credit flow; a slow query therefore throttles the
    * sender at the protocol level, not just via TCP backpressure). */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[FrameCount].n
    val (freed, myEpoch) = buffer.synchronized((buffer.commit(e), grantEpoch))
    outLock.synchronized {
      val o = outStream
      if (o != null) {
        try writeFrame(o, typed(Ack, u64(e) ++ u64(freed)))
        catch { case _: java.io.IOException => } // reconnect loop handles it
      } else if (freed > 0 && myEpoch == buffer.synchronized(grantEpoch)) {
        // the trim post-dates the in-progress grant snapshot (same
        // epoch), so the grant did NOT cover these slots and this ACK
        // just died on the null stream — record them for the
        // supplementary replenish after the handshake. A trim from
        // BEFORE the snapshot (older epoch) is already in the grant;
        // recording it too would double-credit.
        droppedAckFreed += freed
      }
    }
  }

  override def stop(): Unit = {
    stopped = true
    outLock.synchronized {
      if (outStream != null) {
        // graceful: tell the sender we're going away and will re-handshake
        try writeFrame(outStream, typed(Restart))
        catch { case _: java.io.IOException => }
      }
    }
    // interrupt() ends a park in the buffer but does not unblock a socket
    // read — a manager parked in readFrame would leak the thread and fd
    // if the peer ignores RESTART. Closing the socket forces readFrame to
    // throw; `stopped` is already set so the loop exits instead of
    // reconnecting.
    manager.interrupt()
    val s = currentSocket
    if (s != null) { try s.close() catch { case _: java.io.IOException => } }
  }
}

/** DSL SourceConfig over the connector protocol: at-least-once resumable
  * socket ingress (vs [[FramedSocketSource]]'s at-most-once raw framing).
  * Same [[FramedDecoder]] contract and in-scan decode as the other framed
  * sources. A decode-time drop is safe under ALO: the frame is still
  * counted and ACKed by the protocol layer (offsets advance whether or not
  * the decoder keeps it), so the sender trims its replay buffer and a
  * dropped heartbeat is never replayed. */
final case class ConnectorSocketSource[T](
    host: String,
    port: Int,
    decoder: FramedDecoder[T],
    cookie: Option[String] = None,
    maxFramesPerTrigger: Long = Long.MaxValue,
    maxBufferedFrames: Int = 1 << 20,
    replayTimeoutMs: Long = 30000L)(implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] =
    FramedTable.load(spark, s"${ConnectorProtocol.ShortName}:$host:$port", decoder, enc)(rows =>
      new ConnectorSocketMicroBatchStream(host, port, maxFramesPerTrigger, maxBufferedFrames,
        cookie, replayTimeoutMs, rows))
}
