package graft.pipeline

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.read.InputPartition
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side frame buffer both socket sources share, driven
  * directly: no socket and no Spark session. */
class FrameBufferSpec extends AnyFunSuite {

  /** Frames `f<from>` .. `f<from + n - 1>` as one sealed chunk. */
  private def chunk(from: Int, n: Int): FrameChunk = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    (from until from + n).foreach { i =>
      val p = s"f$i".getBytes(UTF_8)
      out.writeInt(p.length)
      out.write(p)
    }
    FrameChunk(n, bytes.toByteArray)
  }

  private def names(from: Int, until: Int): Seq[String] = (from until until).map(i => s"f$i")

  private def frames(parts: Array[InputPartition]): Seq[String] = parts.toSeq.flatMap { p =>
    val w = p.asInstanceOf[FramedPartition].frames()
    Iterator.continually(w.advance()).takeWhile(identity)
      .map(_ => new String(w.bytes, w.off, w.len, UTF_8)).toList
  }

  private def inThread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }

  private def awaitParked(t: Thread): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (t.getState != Thread.State.WAITING && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(t.getState === Thread.State.WAITING, "the append never parked")
  }

  test("a commit that lands mid-chunk keeps the rest of that chunk") {
    val b = new FrameBuffer(100, "test reader")
    b.append(chunk(0, 3))
    b.append(chunk(3, 3))
    assert(frames(b.plan(0, 2, ordered = false)) === names(0, 2))
    assert(b.commit(2) === 2)
    assert(b.held === 4 && b.committed === 2)
    val parts = b.plan(2, 6, ordered = false)
    assert(parts.length === 2, "one partition per chunk slice")
    // the partial head slice ships only its own frame
    assert(parts(0).asInstanceOf[FrameChunkPartition].slices.map(_.count).toSeq === Seq(1))
    assert(frames(parts) === names(2, 6))
  }

  test("the first offset sets where the stream starts; later offsets do not") {
    val b = new FrameBuffer(100, "test reader")
    b.append(chunk(0, 3))
    assert(b.startAt(10))
    assert(b.total === 13, "buffered frames take indices from the start position")
    assert(!b.startAt(20))
    assert(b.total === 13)
    assert(frames(b.plan(10, 13, ordered = true)) === names(0, 3))
  }

  test("a parked append is released by plan, not by commit") {
    val b = new FrameBuffer(2, "test reader")
    b.append(chunk(0, 2))
    b.plan(0, 2, ordered = false)
    b.append(chunk(2, 2)) // the unplanned backlog is now at the cap
    val t = inThread(b.append(chunk(4, 2)))
    awaitParked(t)
    assert(b.commit(2) === 2) // frees the planned batch ...
    Thread.sleep(200)
    assert(t.isAlive && b.total === 4, "... but the unplanned backlog did not shrink")
    b.plan(2, 4, ordered = false)
    t.join(5000)
    assert(!t.isAlive && b.total === 6)
  }

  test("commit never trims past planned") {
    val b = new FrameBuffer(100, "test reader")
    b.append(chunk(0, 3))
    b.plan(0, 3, ordered = false)
    b.append(chunk(3, 3)) // arrives after the batch was planned
    // a commit past `planned` (a range replayed after a restart)
    assert(b.commit(6) === 3)
    assert(b.held === 3)
    // the unplanned frames survive and take indices from the commit on
    assert(b.total === 9)
    assert(frames(b.plan(6, 9, ordered = false)) === names(3, 6))
  }

  test("commit returns exactly the frames it trimmed") {
    val b = new FrameBuffer(100, "test reader")
    (0 until 4).foreach(k => b.append(chunk(5 * k, 5)))
    var prev = 0L
    for (e <- Seq(3L, 7L, 12L, 20L)) { // three of the four land mid-chunk
      b.plan(prev, e, ordered = true)
      val before = b.held
      val freed = b.commit(e)
      assert(freed === e - prev)
      assert(before - b.held === freed)
      prev = e
    }
    assert(b.held === 0)
  }

  test("retention stays within cap + max(cap, one chunk) + one planned batch") {
    for ((cap, k) <- Seq((8, 3), (4, 6))) { // chunks smaller and larger than the cap
      val b = new FrameBuffer(cap, "test reader")
      val n = 60 * k
      val producer = inThread((0 until n by k).foreach(i => b.append(chunk(i, k))))
      val got = ArrayBuffer.empty[String]
      val deadline = System.currentTimeMillis() + 30000
      var start = 0L
      var freed = 0L
      // Spark's order: plan batch N+1, then commit batch N (which ends
      // where N+1 starts)
      while (freed < n && System.currentTimeMillis() < deadline) {
        val end = b.latest(start, Long.MaxValue).n
        got ++= frames(b.plan(start, end, ordered = false))
        freed += b.commit(start)
        val bound = cap + math.max(cap, k) + (end - start)
        assert(b.held <= bound, s"cap $cap, chunk $k: held ${b.held} > $bound")
        start = end
        Thread.sleep(1)
      }
      producer.join(5000)
      assert(got.toSeq === names(0, n), s"cap $cap, chunk $k")
      assert(freed === n.toLong)
    }
  }
}
