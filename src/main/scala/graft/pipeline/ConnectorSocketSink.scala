package graft.pipeline

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, Encoders}

/** The connector-protocol 2PC payload encodings, mirroring the reference's
  * wire format byte for byte (lib/wallaroo_labs/connector_wire_messages/
  * connector_wire_messages.pony:335-553, lib/wallaroo_labs/
  * connector_protocol/twopc.pony). A 2PC control message travels as a
  * MESSAGE frame on stream 0 — exactly how the reference multiplexes the
  * control conversation over the data connection
  * (core/sink/connector_sink/connector_sink_twopc.pony:72,82,105:
  * `MessageMsg(0, 0, 0, None, bs)`).
  *
  * Payload layout (the TwoPCFrame tag byte, then the message body):
  *  - 201 LIST_UNCOMMITTED: u64 rtag
  *  - 202 REPLY_UNCOMMITTED: u64 rtag, u32 n, n × (u16-len string txn_id)
  *  - 203 PHASE1: u16-len txn_id, u32 n, n × (u64 stream, u64 start, u64 end)
  *  - 204 PHASE1_REPLY: u16-len txn_id, u8 commit
  *  - 205 PHASE2: u16-len txn_id, u8 commit
  */
object TwoPcWire {
  val ListUncommitted: Byte = 201.toByte
  val ReplyUncommitted: Byte = 202.toByte
  val Phase1: Byte = 203.toByte
  val Phase1Reply: Byte = 204.toByte
  val Phase2: Byte = 205.toByte

  import java.nio.ByteBuffer

  def listUncommitted(rtag: Long): Array[Byte] =
    ByteBuffer.allocate(9).put(ListUncommitted).putLong(rtag).array()

  def replyUncommitted(rtag: Long, txnIds: Seq[String]): Array[Byte] = {
    val ids = txnIds.map(_.getBytes(UTF_8))
    val buf = ByteBuffer.allocate(13 + ids.map(_.length + 2).sum)
    buf.put(ReplyUncommitted).putLong(rtag).putInt(ids.length)
    ids.foreach { b => buf.putShort(b.length.toShort).put(b) }
    buf.array()
  }

  def phase1(txnId: String, whereList: Seq[(Long, Long, Long)]): Array[Byte] = {
    val id = txnId.getBytes(UTF_8)
    val buf = ByteBuffer.allocate(7 + id.length + 24 * whereList.length)
    buf.put(Phase1).putShort(id.length.toShort).put(id).putInt(whereList.length)
    whereList.foreach { case (s, lo, hi) => buf.putLong(s).putLong(lo).putLong(hi) }
    buf.array()
  }

  def phase2r(tag: Byte, txnId: String, commit: Boolean): Array[Byte] = {
    val id = txnId.getBytes(UTF_8)
    ByteBuffer.allocate(4 + id.length).put(tag).putShort(id.length.toShort)
      .put(id).put(if (commit) 1.toByte else 0.toByte).array()
  }

  /** (txnId, commit) of a PHASE1_REPLY / PHASE2 body. */
  def readPhase2r(body: Array[Byte]): (String, Boolean) = {
    val len = ByteBuffer.wrap(body, 1, 2).getShort & 0xffff
    (new String(body, 3, len, UTF_8), body(3 + len) != 0)
  }

  /** (txnId, whereList) of a PHASE1 body. */
  def readPhase1(body: Array[Byte]): (String, Seq[(Long, Long, Long)]) = {
    val buf = ByteBuffer.wrap(body, 1, body.length - 1)
    val len = buf.getShort & 0xffff
    val id = new Array[Byte](len)
    buf.get(id)
    val n = buf.getInt
    val wl = (0 until n).map(_ => (buf.getLong, buf.getLong, buf.getLong))
    (new String(id, UTF_8), wl)
  }

  /** txn ids of a REPLY_UNCOMMITTED body. */
  def readReplyUncommitted(body: Array[Byte]): (Long, Seq[String]) = {
    val buf = ByteBuffer.wrap(body, 1, body.length - 1)
    val rtag = buf.getLong
    val n = buf.getInt
    val ids = (0 until n).map { _ =>
      val len = buf.getShort & 0xffff
      val b = new Array[Byte](len)
      buf.get(b)
      new String(b, UTF_8)
    }
    (rtag, ids)
  }

  /** (streamId, offset) of a txn id minted by [[ConnectorSocketSink]];
    * the epoch is recoverable because the id embeds it, exactly like the
    * reference's `make_txn_id_string` (connector_sink_twopc.pony:64-65:
    * stream_name + ":c_id=" + checkpoint_id). */
  def txnEpoch(txnId: String): Option[Long] = {
    val i = txnId.lastIndexOf(":c_id=")
    if (i < 0) None
    else txnId.substring(i + 6).toLongOption
  }
}

/** Effectively-once framed-TCP egress speaking the reference connector
  * sink's two-phase-commit conversation over the socket
  * (core/sink/connector_sink/connector_sink.pony:1293-1356,
  * connector_sink_twopc.pony; the semantic twin of the manifest-based
  * [[TwoPhaseCommitSink]], which commits against a filesystem instead of
  * a peer). One micro-batch = one checkpoint epoch = one transaction:
  *
  *  - data: MESSAGE frames on stream 1 carrying (byte offset, payload);
  *    the offset accounting mirrors connector_sink_2pc's
  *    last_offset/current_offset pair;
  *  - phase 1 *at the epoch barrier* (end of the micro-batch's data):
  *    PHASE1(txn_id = "<stream>:c_id=<epoch>", where_list =
  *    [(1, last_offset, current_offset)]); the peer votes via
  *    PHASE1_REPLY — an abort vote fails the batch (Spark replays it);
  *  - phase 2 commit *after the checkpoint commits*: Spark's batch N
  *    commit-log entry is durable before foreachBatch(N+1) runs, so the
  *    PHASE2(commit=true) for txn N is sent at the head of batch N+1 —
  *    the same deferral the reference applies (phase 2 only after the
  *    checkpoint globally completes);
  *  - recovery on (re)connect: HELLO → OK, NOTIFY(stream 1) →
  *    NOTIFY_ACK(committed offset) rolls the offset counters back to the
  *    peer's committed point, then LIST_UNCOMMITTED → REPLY_UNCOMMITTED
  *    and every in-doubt transaction is resolved by comparing its epoch
  *    against the epoch about to (re)run: epoch < current committed →
  *    PHASE2 commit, epoch >= current → PHASE2 abort (Spark is about to
  *    re-deliver that batch; the peer must discard the staged bytes).
  *    This is the reference's restart reconciliation
  *    (connector_sink.pony:1293-1300 list_uncommitted + rollback).
  *
  * The conversation is strictly ordered on one socket, so the sink is a
  * single connection — the reference's connector sink is likewise a
  * single actor with parallelism 1. Rows stream through the driver via
  * `toLocalIterator` (one partition in memory at a time); the socket,
  * not the driver hop, is the throughput bound. For parallel egress run
  * N sinks on disjoint streams, the reference's own model.
  *
  * `afterPhase1` is a test seam: invoked after the peer's commit vote,
  * before the batch returns — a hook that throws simulates a crash in
  * the in-doubt window (phase 1 voted, checkpoint not yet committed).
  */
final case class ConnectorSocketSink[T](
    host: String,
    port: Int,
    encode: T => Array[Byte],
    streamName: String = "graft",
    cookie: Option[String] = None,
    voteTimeoutMs: Long = 30000L,
    maxRetries: Int = 3,
    commitOnStop: Boolean = true,
    afterPhase1: (String, Long) => Unit = (_, _) => ())
    extends SinkConfig[T] {
  import ConnectorProtocol._

  // Driver-side connection state (foreachBatch runs on the driver; Spark
  // runs a query's batches sequentially, so no locking needed). If the
  // instance is ever re-serialized the state resets to "disconnected" and
  // the recovery conversation rebuilds it — the same path as a restart.
  @transient private var socket: Socket = _
  @transient private var in: DataInputStream = _
  @transient private var out: DataOutputStream = _
  @transient private var lastOffset = 0L        // peer-committed byte offset
  @transient private var currentOffset = 0L     // bytes staged past lastOffset
  @transient private var txnEndOffset = 0L      // currentOffset at phase 1
  @transient private var pendingCommit: Option[String] = None // voted, awaiting phase 2
  @transient private var rtag = 0L

  private def txnId(epoch: Long): String = s"$streamName:c_id=$epoch"

  private def send(body: Array[Byte]): Unit = writeFrame(out, body)
  private def sendTwoPc(payload: Array[Byte]): Unit =
    send(typed(Message, u64(0L) ++ u64(0L) ++ payload))
  private def sendData(payload: Array[Byte]): Unit = {
    // Framing.write, not the flushing writeFrame: no flush per row, since
    // one flush syscall per row through the 8 KB buffer would defeat the
    // buffering; the sink flushes once at its phase barriers (phase 1,
    // phase 2), and the phase-1 flush is the visibility point
    Framing.write(out,
      typed(Message, u64(1L) ++ u64(lastOffset + currentOffset) ++ payload))
    currentOffset += payload.length
  }

  /** Phase-2 commit for the pending transaction + the offset-window roll
    * — ONE home for the state transition (writeTxn's head-of-batch
    * deferral, writeBatch's immediate commit, and [[onTerminated]]). */
  private def commitPending(): Unit = pendingCommit.foreach { id =>
    sendTwoPc(TwoPcWire.phase2r(TwoPcWire.Phase2, id, commit = true))
    out.flush()
    lastOffset = txnEndOffset
    currentOffset = 0L
    pendingCommit = None
  }

  /** Blocking read until a frame of 2PC tag `want` arrives (other control
    * frames are ignored — the peer initiates nothing in this protocol). */
  private def awaitTwoPc(want: Byte): Array[Byte] = {
    val deadline = System.currentTimeMillis() + voteTimeoutMs
    while (System.currentTimeMillis() < deadline) {
      // re-arm with the REMAINING budget each iteration (a peer feeding
      // irrelevant frames near the deadline would otherwise extend the
      // wait to ~2x the bound), clamped into Int range BEFORE narrowing
      // (a voteTimeoutMs above Int.MaxValue would wrap negative and make
      // setSoTimeout throw on a configuration that looks valid)
      val remaining = deadline - System.currentTimeMillis()
      socket.setSoTimeout(math.min(math.max(1L, remaining), Int.MaxValue.toLong).toInt)
      val f = readFrame(in)
      if (f(0) == Message && f.length >= 17 && readU64(f, 1) == 0L) {
        val payload = java.util.Arrays.copyOfRange(f, 17, f.length)
        if (payload.nonEmpty && payload(0) == want) return payload
      } else if (f(0) == Error)
        throw new IllegalStateException(
          s"connector peer $host:$port sent ERROR: ${readShortBytes(f, 1)._1}")
    }
    throw new IllegalStateException(
      s"connector peer $host:$port: no 2PC reply within ${voteTimeoutMs}ms")
  }

  /** Connect + handshake + resolve every in-doubt transaction. `epoch` is
    * the micro-batch about to run: transactions for earlier epochs are
    * durably in Spark's commit log (it never re-runs them) → commit;
    * this epoch and later are about to be re-delivered → abort. */
  private def connect(epoch: Long): Unit = {
    socket = new Socket()
    // bounded connect AND a handshake read timeout: a peer that accepts
    // but never replies must fail the batch (which retries/reconnects),
    // not wedge the driver in a blocking read that query.stop() cannot
    // interrupt and that bypasses voteTimeoutMs entirely
    socket.connect(new java.net.InetSocketAddress(host, port), 30000)
    socket.setSoTimeout(
      math.min(math.max(1L, voteTimeoutMs), Int.MaxValue.toLong).toInt)
    in = new DataInputStream(socket.getInputStream)
    out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    send(typed(Hello,
      shortBytes(cookie.getOrElse("")) ++ shortBytes("graft") ++ shortBytes(streamName)))
    val ok = readFrame(in)
    if (ok(0) == Error)
      throw new IllegalStateException(
        s"connector peer $host:$port rejected HELLO: ${readShortBytes(ok, 1)._1}")
    require(ok(0) == Ok, s"expected OK, got type ${ok(0)}")
    send(typed(Notify, u64(1L) ++ shortBytes(streamName)))
    val na = readFrame(in)
    require(na(0) == NotifyAck, s"expected NOTIFY_ACK, got type ${na(0)}")
    lastOffset = readU64(na, 1) // the peer's committed point of reference
    currentOffset = 0L
    txnEndOffset = 0L
    pendingCommit = None
    rtag += 1
    sendTwoPc(TwoPcWire.listUncommitted(rtag))
    val (gotTag, inDoubt) =
      TwoPcWire.readReplyUncommitted(awaitTwoPc(TwoPcWire.ReplyUncommitted))
    require(gotTag == rtag, s"REPLY_UNCOMMITTED rtag $gotTag != $rtag")
    var committedAny = false
    // Resolve ONLY this sink's transactions: the peer's in-doubt list is
    // global across connections, and the class doc endorses N sinks on
    // disjoint streams against one peer — resolving a FOREIGN stream's
    // txn with OUR epoch counter would commit data its owner is about to
    // re-deliver (duplication) or abort data its owner durably committed
    // (silent loss). The txn id embeds its stream name
    // (make_txn_id_string, connector_sink_twopc.pony:64-65) precisely so
    // each owner can recognize its own; foreign txns stay in doubt until
    // their owner reconnects.
    inDoubt.filter(_.startsWith(s"$streamName:c_id=")).foreach { id =>
      val commit = TwoPcWire.txnEpoch(id).exists(_ < epoch)
      committedAny ||= commit
      sendTwoPc(TwoPcWire.phase2r(TwoPcWire.Phase2, id, commit))
    }
    out.flush()
    // A recovery COMMIT advances the peer's committed offset past the
    // NOTIFY_ACK we already read; without a re-sync the next epoch's data
    // frames and where_list would overlap the just-committed byte range
    // (an offset-checking peer would discard them as already applied).
    // NOTIFY again after the phase 2s — the peer processes frames in
    // order, so the second NOTIFY_ACK carries the post-commit offset.
    if (committedAny) {
      send(typed(Notify, u64(1L) ++ shortBytes(streamName)))
      out.flush()
      val na2 = readFrame(in)
      require(na2(0) == NotifyAck, s"expected NOTIFY_ACK, got type ${na2(0)}")
      lastOffset = readU64(na2, 1)
    }
  }

  private def closeQuietly(): Unit = {
    if (socket != null) { try socket.close() catch { case _: IOException => } }
    socket = null; in = null; out = null
  }

  /** One transaction: stream the batch's rows as data frames, phase 1 at
    * the barrier, block for the vote. Phase 2 for the PREVIOUS txn goes
    * out first — by the time batch N runs, batch N-1's checkpoint entry
    * is durable. Retries reconnect and replay the whole batch: the
    * recovery conversation aborts the half-staged attempt first, so a
    * retry can't double-write (at-most-once per txn, exactly-once after
    * commit). */
  private def writeTxn(rows: Iterator[Array[Byte]], epoch: Long): Unit = {
    var attempt = 0
    var done = false
    // Buffer the encoded rows so a retry can replay them without
    // re-running the Spark job (the iterator is single-shot). Bounded by
    // the micro-batch size — the unit the whole protocol already holds
    // in the peer's staging buffer.
    lazy val buffered = rows.toVector
    while (!done) {
      try {
        if (socket == null) connect(epoch)
        commitPending()
        val id = txnId(epoch)
        buffered.foreach(sendData)
        sendTwoPc(TwoPcWire.phase1(id,
          Seq((1L, lastOffset, lastOffset + currentOffset))))
        out.flush()
        val (votedId, commit) =
          TwoPcWire.readPhase2r(awaitTwoPc(TwoPcWire.Phase1Reply))
        require(votedId == id, s"PHASE1_REPLY for $votedId, expected $id")
        if (!commit) {
          // resolve the txn NOW (standard 2PC: phase-2 abort on an abort
          // vote) — throwing first would leave the peer holding the
          // whole batch staged in-doubt until some future reconnect, and
          // a dangling in-doubt txn is exactly what a mis-matched epoch
          // could later mis-resolve
          try { sendTwoPc(TwoPcWire.phase2r(TwoPcWire.Phase2, id, commit = false)); out.flush() }
          catch { case _: IOException => } // recovery aborts it anyway
          currentOffset = 0L // the staged bytes are discarded peer-side
          throw new IllegalStateException(
            s"connector peer $host:$port voted ABORT for $id")
        }
        txnEndOffset = lastOffset + currentOffset
        pendingCommit = Some(id)
        done = true
      } catch {
        case e: IOException =>
          closeQuietly()
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"connector sink $host:$port: txn for epoch $epoch failed after " +
                s"$maxRetries reconnect attempts", e)
          Thread.sleep(1000L)
      }
    }
    afterPhase1(txnId(epoch), epoch)
  }

  def writeMicroBatch(ds: Dataset[(T, Long)], epoch: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val enc = encode
    val bin = ds.map(p => enc(p._1))(Encoders.BINARY)
    writeTxn(bin.toLocalIterator().asScala, epoch)
  }

  /** Batch mode: one transaction (epoch 0), phase 2 immediately — a batch
    * job has no later trigger to piggyback on, and its "checkpoint" is
    * the job's own success. The connection closes after the commit: a
    * batch job is done with it, and the next one re-handshakes.
    *
    * Txn-id namespace caveat: every batch job mints `<stream>:c_id=0`,
    * so by the protocol's rules a SECOND batch job against the same peer
    * with the same `streamName` is a REPLAY of the first transaction —
    * an id-remembering peer will ignore it. Give each logical batch job
    * its own `streamName` (it is the transaction namespace), exactly as
    * [[TwoPhaseCommitSink]] requires a fresh directory per batch output. */
  override def writeBatch(ds: Dataset[(T, Long)]): Unit =
    // finally-close: a failure after connect (abort vote, protocol
    // require, tail phase-2 IOException) must not leak the socket and
    // leave stale non-null connection state for the next writeBatch —
    // the leak TcpSink's per-partition close guards against
    try { writeMicroBatch(ds, 0L); commitPending() } finally closeQuietly()

  /** Query termination, solo or in a fan-out: best-effort phase 2 for the
    * open tail transaction at a graceful stop (the reference's EOS
    * discipline), then release the connection. `committedEpoch` is the
    * last batch id Spark DURABLY COMMITTED: a stop() can land after
    * foreachBatch(k) returned but before the commit-log entry for k was
    * written, and committing txn k then would double-deliver the epoch
    * when the restart re-runs it. An ineligible or failed send is
    * harmless either way: the txn stays in doubt and reconnect recovery
    * resolves it correctly (commit if the epoch logged, abort-and-rewrite
    * if not). Disabled via `commitOnStop = false` when a test needs the
    * in-doubt tail. */
  override def onTerminated(failed: Boolean, committedEpoch: Long): Unit = {
    if (commitOnStop && !failed &&
        pendingCommit.exists(id => TwoPcWire.txnEpoch(id).exists(_ <= committedEpoch)))
      try commitPending()
      catch { case _: IOException | _: NullPointerException => } // recovery's job
    closeQuietly()
  }
}
