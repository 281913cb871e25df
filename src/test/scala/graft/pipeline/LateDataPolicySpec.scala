package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import WindowTestKit._

/** Ports of /root/reference/lib/wallaroo/core/windows/_test_late_data.pony
  * (271 LoC) — one vector per late-data policy behavior — plus the
  * conformance suite's declarative expectations
  * (/root/reference/testing/conformance/tests/window_policy.py:30-38). */
class LateDataPolicySpec extends AnyFunSuite {

  test("LateDataIgnoredUnderDrop") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0)
    tw(1, seconds(100), seconds(100))
    tw(2, seconds(50), seconds(100)) // late → dropped
    val res = tw(3, seconds(101), seconds(111))
    assert(outs(res) == Vector(Vector(1L, 3L)))
  }

  test("LateDataTriggersOwnWindowUnderFirePerMessage") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.FirePerMessage)
    tw(1, seconds(100), seconds(100))
    val res1 = tw(2, seconds(50), seconds(100))
    val res2 = tw(3, seconds(101), seconds(111))
    assert(outs(res1) == Vector(Vector(2L)))
    assert(outs(res2) == Vector(Vector(1L, 3L)))
  }

  test("LateDataTriggersNewWindowUnderFirePerMessage") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.FirePerMessage)
    tw(1, seconds(100), seconds(100))
    val res1 = tw(2, seconds(101), seconds(111))
    val res2 = tw(3, seconds(50), seconds(111))
    assert(outs(res1) == Vector(Vector(1L, 2L)))
    assert(outs(res2) == Vector(Vector(3L)))
  }

  test("FirePerMessageUsesEventTimeAsOutputTsForLateData") {
    val tw = rangeWindowsWrapper(Sum, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.FirePerMessage)
    tw(1, seconds(100), seconds(100))
    val res1 = tw(2, seconds(101), seconds(111))
    assert(outs(res1) == Vector(3L))
    assert(res1._2 == seconds(110) - 1)
    val res2 = tw(3, seconds(50), seconds(112))
    assert(res2._1 == Vector((3L, seconds(50))))
    assert(res2._2 == seconds(50))
  }

  test("PlaceInOldestWindowOneWindow") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.PlaceInOldestWindow)
    tw(1, seconds(100), seconds(100))
    tw(2, seconds(50), seconds(100))
    val res = tw(3, seconds(101), seconds(111))
    assert(outs(res) == Vector(Vector(1L, 2L, 3L)))
  }

  test("PlaceInOldestWindowTwoWindows") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.PlaceInOldestWindow)
    tw(1, seconds(100), seconds(100))
    tw(2, seconds(111), seconds(100))
    tw(3, seconds(50), seconds(100))
    val res = tw(4, seconds(112), seconds(121))
    assert(outs(res) == Vector(Vector(1L, 3L), Vector(2L, 4L)))
  }

  test("PlaceInOldestWindowDoesntAutomaticallyTrigger") {
    val tw = rangeWindowsWrapper(Collect, seconds(10), seconds(10), 0,
      policy = LateDataPolicy.PlaceInOldestWindow)
    tw(1, seconds(100), seconds(100))
    val res1 = tw(2, seconds(101), seconds(111))
    val res2 = tw(3, seconds(50), seconds(111))
    assert(outs(res1) == Vector(Vector(1L, 2L)))
    assert(outs(res2).isEmpty)
  }

  /** Conformance vectors (window_policy.py:30-38): out-of-order input
    * [1e9,1.001e9,1.002e9,50,1.003e9] through a tumbling window; the value
    * 1 (ts=50) is dropped under `drop` and appears under
    * `fire-per-message`. Watermark follows each message's event time, as
    * the window_detector app's TCP source does; the final flush is the
    * end-of-stream. */
  private def runPolicy(policy: LateDataPolicy): Vector[Long] = {
    val input = Seq((2L, 1000000000L), (3L, 1001000000L), (4L, 1002000000L),
      (1L, 50L), (5L, 1003000000L))
    val tw = rangeWindowsWrapper(Collect, millis(1), millis(1), 0, policy = policy)
    var wm = 0L
    val got = Vector.newBuilder[Vector[Long]]
    input.foreach { case (v, ts) =>
      wm = math.max(wm, ts)
      got ++= outs(tw(v, ts, wm))
    }
    got ++= outs(tw.onTimeout(TimeoutWatermark.value, wm))
    got.result().flatten
  }

  test("conformance: window_policy drop")           { assert(runPolicy(LateDataPolicy.Drop).sorted == Vector(2L, 3L, 4L, 5L)) }
  test("conformance: window_policy fire_per_message") { assert(runPolicy(LateDataPolicy.FirePerMessage).sorted == Vector(1L, 2L, 3L, 4L, 5L)) }
}
