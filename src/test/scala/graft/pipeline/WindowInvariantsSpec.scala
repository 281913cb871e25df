package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import WindowTestKit._

/** Property tests porting the window_detector validator's invariants
  * (/root/reference/testing/correctness/apps/window_detector/_validate.py:
  * 40-92): feed each key the natural sequence 0,1,2,… in event-time order
  * through Collect windows and check, over 100 seeded-random configs:
  *  1. within every emitted window, values are in order;
  *  2. sliding: the union of emitted values is a gap-free segment of the
  *     natural sequence;
  *  3. sliding: across adjacent windows an item appears at most twice
  *     (duplication only from slide overlap);
  *  4. flattened across windows, values only ever step +1 or rewind
  *     (never skip forward);
  *  5. count windows: flattened output IS the input sequence.
  */
class WindowInvariantsSpec extends AnyFunSuite {

  private def runSliding(rand: scala.util.Random): Vector[Vector[Long]] = {
    val slide = seconds(1 + rand.nextInt(5))
    val overlap = 1 + rand.nextInt(4)
    val range = slide * overlap
    val delay = seconds(rand.nextInt(10))
    val n = 50 + rand.nextInt(150)
    val sw = rangeWindowsWrapper(Collect, range, slide, delay)
    val out = Vector.newBuilder[Vector[Long]]
    var ts = seconds(100 + rand.nextInt(100))
    var wm = 0L
    for (i <- 0L until n) {
      ts += millis(1 + rand.nextInt(4000).toLong)
      // watermark lags the event time by a bounded random amount
      wm = math.max(wm, ts - millis(rand.nextInt(3000).toLong))
      out ++= outs(sw(i, ts, wm))
    }
    out ++= outs(sw.onTimeout(TimeoutWatermark.value, wm))
    out.result().filter(_.nonEmpty)
  }

  test("sliding windows: detector invariants over 100 random configs") {
    val rand = new scala.util.Random(7)
    for (_ <- 0 until 100) {
      val wins = runSliding(rand)
      assert(wins.nonEmpty)
      // 1. per-window ordering
      wins.foreach(w => assert(w == w.sorted, s"out-of-order window $w"))
      // 2. gap-freeness: union is a contiguous natural segment
      val processed = wins.flatten.distinct.sorted
      assert(processed.last - processed.head + 1 == processed.size,
        s"gap in processed sequence: $processed")
      // 3. adjacent windows: each item at most twice
      wins.sliding(2).foreach {
        case Vector(a, b) =>
          (a ++ b).groupBy(identity).foreach { case (v, occ) =>
            assert(occ.size <= 2, s"value $v appears ${occ.size}x in adjacent windows")
          }
        case _ => ()
      }
      // 4. sequentiality: +1 steps or rewinds only
      val flat = wins.flatten
      flat.sliding(2).foreach {
        case Vector(a, b) => assert(b == a + 1 || b <= a, s"skip from $a to $b")
        case _            => ()
      }
    }
  }

  test("count windows: flattened output is exactly the input sequence") {
    val rand = new scala.util.Random(11)
    for (_ <- 0 until 100) {
      val size = 1 + rand.nextInt(20)
      val n = 30 + rand.nextInt(100)
      val cw = new TumblingCountWindows[Long, Vector[Long], Collected]("key", Collect, size)
      val out = Vector.newBuilder[Vector[Long]]
      var ts = 0L
      for (i <- 0L until n) {
        ts += millis(1 + rand.nextInt(100).toLong)
        out ++= outs(cw(i, ts, ts))
      }
      out ++= outs(cw.onTimeout(TimeoutWatermark.value, ts))
      val wins = out.result()
      assert(wins.flatten == (0L until n).toVector)
      // every window but the last is exactly `size` long
      wins.dropRight(1).foreach(w => assert(w.size == size))
    }
  }

  test("tumbling windows: detector sequentiality invariant") {
    val rand = new scala.util.Random(13)
    for (_ <- 0 until 100) {
      val range = seconds(1 + rand.nextInt(8))
      val n = 50 + rand.nextInt(100)
      val tw = rangeWindowsWrapper(Collect, range, range, seconds(rand.nextInt(5)))
      val out = Vector.newBuilder[Vector[Long]]
      var ts = seconds(50)
      for (i <- 0L until n) {
        ts += millis(1 + rand.nextInt(2000).toLong)
        out ++= outs(tw(i, ts, ts))
      }
      out ++= outs(tw.onTimeout(TimeoutWatermark.value, ts))
      val wins = out.result().filter(_.nonEmpty)
      wins.foreach(w => assert(w == w.sorted))
      // tumbling: no duplication at all, output = input
      assert(wins.flatten == (0L until n).toVector)
    }
  }
}
