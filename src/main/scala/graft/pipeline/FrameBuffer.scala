package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.read.InputPartition

/** A sealed run of concatenated framed bytes: `count` frames, each laid
  * out as [4-byte BE length][payload] from byte 0. It is the unit both
  * socket sources buffer on the driver and ship in a partition: the
  * driver holds ~frames/chunk-size objects instead of one per frame, and
  * task serialization moves a handful of byte arrays instead of 10⁵
  * small ones. A partial chunk planned into a batch ships as its own,
  * byte-sliced FrameChunk. */
final case class FrameChunk(count: Int, bytes: Array[Byte])

/** The driver-side frame buffer of the socket sources
  * ([[FramedSocketMicroBatchStream]], [[ConnectorSocketMicroBatchStream]]):
  * sealed [[FrameChunk]]s indexed by frame count, which is the sources'
  * offset ([[FrameCount]]). One reader thread appends; the micro-batch
  * thread plans ranges and commits them. Each source keeps only its
  * protocol on top.
  *
  * `base` is the absolute index of the first uncommitted frame,
  * `headSkip` how many frames of `chunks.head` are already committed
  * (commit can land mid-chunk), `buffered` the uncommitted frame count,
  * and `planned` the highest index handed to a batch. The instance is the
  * lock: a source that must act atomically with a trim (the connector's
  * credit epoch) synchronizes on it. */
final class FrameBuffer(cap: Int, what: String) {
  private val chunks = ArrayBuffer.empty[FrameChunk]
  private var headSkip = 0
  private var buffered = 0L
  private var base = 0L
  // The reader parks on the UNPLANNED backlog (total − planned), not on
  // the whole buffer: Spark only calls commit(N) after batch N+1 exists,
  // so a reader parked until commit would deadlock the moment one batch
  // took the whole buffer. Planned-but-uncommitted frames stay (a failed
  // batch re-plans its range on retry).
  private var planned = 0L
  private var started = false
  @volatile private var error: Throwable = _
  @volatile private var capturePending = false
  @volatile private var availableNowCap: Option[Long] = None

  def total: Long = synchronized(base + buffered)
  def committed: Long = synchronized(base)
  def held: Long = synchronized(buffered)

  /** The reader-error latch: the reader thread records its failure here,
    * and the next offset or plan call fails the query with it. */
  def fail(t: Throwable): Unit = { error = t; synchronized(notifyAll()) }
  def failed: Boolean = error != null
  def check(): Unit =
    if (error != null) throw new IllegalStateException(s"$what died", error)

  /** Takes the stream's start position from the first offset Spark hands
    * over, and returns true on that first call only. A restarted query's
    * fresh connection knows nothing of the old counts, so frames take
    * indices from the checkpointed position onward. */
  def startAt(from: Long): Boolean = {
    check()
    synchronized {
      val first = !started
      if (first) { if (from > base) base = from; started = true }
      first
    }
  }

  /** Adds a sealed chunk, parking while the unplanned backlog plus this
    * chunk would pass `cap`. A chunk larger than `cap` is admitted into an
    * empty backlog only, so small caps still make progress: retention
    * stays ≤ cap + max(cap, one chunk) + one planned batch. */
  def append(c: FrameChunk): Unit = synchronized {
    while ({
      val backlog = base + buffered - math.max(planned, base)
      backlog > 0 && backlog + c.count > cap
    }) wait()
    chunks += c
    buffered += c.count
    notifyAll()
  }

  def requestAvailableNow(): Unit = capturePending = true
  def availableNowPending: Boolean = capturePending

  /** Fixes the AvailableNow end. "Available now" over a socket only
    * becomes observable as frames arrive, so wait until no frame arrives
    * for one 250 ms tick, `done` holds, or `deadline` (epoch ms) passes;
    * any quiescence rule over an endless stream must truncate somewhere. */
  def captureAvailableNow(deadline: Long, done: => Boolean): Unit = {
    capturePending = false
    var last = -1L
    var cur = total
    while (cur != last && error == null && !done && System.currentTimeMillis() < deadline) {
      last = cur
      Thread.sleep(250L)
      cur = total
    }
    availableNowCap = Some(total)
  }

  /** The end offset of the next batch from `from`: at most `limit` frames,
    * and never past the AvailableNow end. */
  def latest(from: Long, limit: Long): FrameCount = {
    // saturating add: from + Long.MaxValue must not wrap past `total`
    val end = from + math.min(limit, math.max(0L, total - from))
    FrameCount(math.max(from, availableNowCap.fold(end)(math.min(end, _))))
  }

  /** Frames `[s, e)` as partitions: one chunk slice per partition, or all
    * slices in one partition when `ordered`, so a single task decodes the
    * batch in frame order. Planning releases a parked reader. */
  def plan(s: Long, e: Long, ordered: Boolean): Array[InputPartition] =
    if (e <= s) Array.empty
    else synchronized {
      // a range replayed after a restart may exceed what a fresh raw
      // connection holds: deliver what exists (at-most-once)
      var rel = headSkip + math.max(0L, s - base)
      var remaining = math.max(0L, math.min(e, base + buffered) - math.max(s, base))
      val out = ArrayBuffer.empty[FrameChunk]
      val it = chunks.iterator
      while (remaining > 0 && it.hasNext) {
        val c = it.next()
        if (rel >= c.count) rel -= c.count
        else {
          val take = math.min(c.count - rel, remaining).toInt
          out += slice(c, rel.toInt, take)
          remaining -= take
          rel = 0
        }
      }
      planned = math.max(planned, math.min(e, base + buffered))
      notifyAll()
      if (ordered && out.nonEmpty) Array(FrameChunkPartition(out.toArray))
      else out.map(c => FrameChunkPartition(Array(c)): InputPartition).toArray
    }

  /** A partial-chunk slice ships only its own bytes (a throttled trigger
    * over a ~1 MB chunk would otherwise re-serialize the whole array per
    * batch); a full chunk ships its array untouched. */
  private def slice(c: FrameChunk, skip: Int, take: Int): FrameChunk =
    if (skip == 0 && take == c.count) c
    else {
      var pos = 0
      var i = 0
      while (i < skip) { pos += Framing.HeaderBytes + Framing.len(c.bytes, pos); i += 1 }
      val startByte = pos
      i = 0
      while (i < take) { pos += Framing.HeaderBytes + Framing.len(c.bytes, pos); i += 1 }
      FrameChunk(take, java.util.Arrays.copyOfRange(c.bytes, startByte, pos))
    }

  /** Trims the frames before `e`, but only those handed to a batch
    * (≤ `planned`): frames that arrived after the batch was planned are
    * kept and take indices from `e` onward. Returns the frames freed. */
  def commit(e: Long): Long = synchronized {
    var freed = 0L
    if (e > base) {
      freed = math.max(0L, math.min(math.min(e, planned) - base, buffered))
      var toDrop = freed + headSkip
      while (chunks.nonEmpty && chunks.head.count <= toDrop) {
        toDrop -= chunks.head.count
        chunks.remove(0)
      }
      headSkip = toDrop.toInt
      buffered -= freed
      base = e
    }
    notifyAll()
    freed
  }
}

object FrameBuffer {
  /** Seal threshold of both sources' open chunk: a chunk closes at this
    * many bytes, or whenever the socket momentarily runs dry, so a
    * trickle stream still reaches the next trigger promptly. */
  val ChunkBytes: Int = 1 << 20
}

/** Frames of a socket micro-batch as chunk slices, walked in order: one
  * slice per partition in a parallel plan, all of a batch's slices in one
  * partition in an ordered plan. Each slice holds whole frames only, so
  * each is one [[Framing.walk]] over its bytes. */
final case class FrameChunkPartition(slices: Array[FrameChunk]) extends FramedPartition {
  override def frames(): FrameWalk = new FrameWalk {
    private var s = 0
    private var slice: FrameWalk = Framing.walk(Array.emptyByteArray, 0, 0)
    // the payload is a view into the slice's bytes: no per-frame copy
    override def advance(): Boolean = {
      while (!slice.advance()) {
        if (s == slices.length) return false
        slice = Framing.walk(slices(s).bytes, 0, slices(s).bytes.length)
        s += 1
      }
      bytes = slice.bytes
      off = slice.off
      len = slice.len
      true
    }
  }
}
