package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import WindowTestKit._

/** Crafted-corpus boundary vectors (VERDICT r11 #3): the r11 BPE find
  * proved that both-engine-identical flaws live exactly ON arithmetic
  * boundaries the hash gate never samples. Each test here drives one
  * EXACT boundary of the window/watermark semantic core — watermark
  * precisely at a window's end, an event precisely at the earliest open
  * pane, an ephemeral watermark precisely at the trigger/remove points,
  * an upstream silent for precisely the eviction threshold — with the
  * expectation derived from the REFERENCE's comparison operators
  * (panes_range_windows.pony:346-351 `<`, ephemeral_window.pony:135 `>`,
  * watermarks.pony:141-142 `<`), not from the SQL twins. Every test was
  * verified to BITE by temporarily seeding the plausible off-by-one
  * (flipping the strict comparison to non-strict) and watching it fail.
  */
class BoundaryVectorsSpec extends AnyFunSuite {

  // ---- panes_range_windows.pony:346-351: _should_trigger uses
  // (start + range - 1) < (wm - delay): a window fires only when the
  // watermark STRICTLY passes its inclusive end.

  test("watermark exactly at a tumbling window's inclusive end does not trigger; one past does") {
    val w = rangeWindowsWrapper(Collect, seconds(100), seconds(100), 0L)
    w(7L, seconds(10), 0L) // anchor panes at [0, 100s)
    val atEnd = w.onTimeout(seconds(100) - 1, 0L) // wm == inclusive end
    assert(outs(atEnd).isEmpty,
      "a seeded <= in shouldTrigger fires here — the reference's < must not")
    val past = w.onTimeout(seconds(100), 0L) // wm == exclusive end
    assert(outs(past) == Vector(Vector(7L)))
    assert(past._1.head._2 == seconds(100) - 1, "output ts is the inclusive end")
  }

  test("allowed lateness shifts the trigger boundary by exactly the normalized delay") {
    // slide divides delay so normalization is the identity: range 100s,
    // slide 50s, delay 50s. First window [150s, 250s) (anchor wm 200s)
    // triggers when wm - delay > 250s - 1, i.e. first at wm == 300s.
    val w = rangeWindowsWrapper(NonZeroSum, seconds(100), seconds(50), seconds(50))
    w(7L, seconds(160), seconds(200)) // anchor: panes from 200s - 50s = 150s
    val atBoundary = w.onTimeout(seconds(300) - 1, 0L)
    assert(outs(atBoundary).isEmpty)
    val past = w.onTimeout(seconds(300), 0L)
    assert(outs(past) == Vector(7L))
  }

  // ---- panes_range_windows.pony:186-209: _apply_input treats
  // event_ts >= earliest_ts as in-window; lateness begins ONE TICK below
  // the earliest open pane.

  test("an event exactly at the earliest open pane aggregates; one tick below fires the late policy") {
    val w = rangeWindowsWrapper(NonZeroSum, seconds(100), seconds(50), 0L,
      policy = LateDataPolicy.FirePerMessage)
    w(1L, seconds(10), seconds(10)) // anchor panes [0,50s),[50s,100s)
    // jump: triggers [0,100s)->1 and [50s,150s)->suppressed-0, leaving
    // the earliest open pane at exactly 150s
    val jump = w(2L, seconds(200), seconds(200))
    assert(outs(jump) == Vector(1L))
    // exactly AT the earliest pane: in-window, silent aggregation
    val atEarliest = w(3L, seconds(150), seconds(200))
    assert(outs(atEarliest).isEmpty,
      "a seeded > in applyInput fires a spurious late singleton here")
    // one tick below: late, fire-per-message singleton with its own ts
    val oneBelow = w(4L, seconds(150) - 1, seconds(200))
    assert(oneBelow._1 == Vector((4L, seconds(150) - 1)))
    // the at-boundary row must have landed in the [150s, 250s) window
    val flushed = w.onTimeout(TimeoutWatermark.value, 0L)
    assert(outs(flushed) == Vector(5L, 2L),
      "[150s,250s) carries 3 (boundary row) + 2; [200s,300s) carries 2")
  }

  // ---- ephemeral_window.pony:135-141: _try_trigger_window fires only
  // when wm is STRICTLY past the trigger point; :111/:127 retain state
  // only while wm is STRICTLY below the remove point.

  test("ephemeral window: watermark exactly at the trigger point does not fire") {
    val w = ephemeralWrapper(Collect, seconds(5), seconds(5))
    w(1L, seconds(100), seconds(100)) // triggerPoint = 105s, removePoint = 110s
    val atTrigger = w(2L, seconds(105), seconds(105))
    assert(outs(atTrigger).isEmpty, "wm == triggerPoint must not fire (strict >)")
    assert(atTrigger._3, "state retained")
    val pastTrigger = w.onTimeout(seconds(105) + 1, 0L)
    assert(outs(pastTrigger) == Vector(Vector(1L, 2L)))
  }

  test("ephemeral key at exactly the remove point drops state and the NEXT row reopens fresh") {
    // Host-level replay (KeyReplay.stepSorted): one micro-batch
    // whose rows straddle the remove point. triggerPoint = 105s,
    // removePoint = 110s with Drop late policy:
    //   row 2 at 106s  -> triggers [1,2]
    //   row 3 at 110s  -> wm == removePoint: zombie-late (dropped) AND
    //                     retain=false — the state dies with this row
    //   row 4 at 111s  -> must land in a FRESH window, not the zombie
    val init = new StateInitializer[Long, Vector[Long]] {
      def name = "boundary-ephemeral"
      def timeoutIntervalNs = seconds(1)
      def stateWrapper(key: String) = ephemeralWrapper(Collect, seconds(5), seconds(5))
    }
    val rows = Seq(
      (1L, seconds(100)), (2L, seconds(106)), (3L, seconds(110)), (4L, seconds(111)))
    val replay = new KeyReplay(init, "k", None, 0L)
    val outputs = replay.stepSorted[(Long, Long)](rows.iterator, _._1, _._2)
    val state = replay.state
    assert(outputs.map(_._1) == Vector(Vector(1L, 2L)),
      "row 3 is zombie-late at wm == removePoint; row 4 must not join the old window")
    // the fresh window (anchored at 111s) holds row 4 and is retained
    assert(state.isDefined, "the reopened key's state is live")
    val reopened = state.get.wrapper.onTimeout(TimeoutWatermark.value, 0L)
    assert(outs(reopened) == Vector(Vector(4L)),
      "a seeded <= in the retain comparison keeps the zombie: row 4 would be dropped as late")
  }

  test("ephemeral key one tick BEFORE the remove point stays a zombie (no reopen)") {
    val init = new StateInitializer[Long, Vector[Long]] {
      def name = "boundary-ephemeral"
      def timeoutIntervalNs = seconds(1)
      def stateWrapper(key: String) = ephemeralWrapper(Collect, seconds(5), seconds(5))
    }
    val rows = Seq(
      (1L, seconds(100)), (2L, seconds(106)), (3L, seconds(110) - 1), (4L, seconds(110) - 1))
    val replay = new KeyReplay(init, "k", None, 0L)
    val outputs = replay.stepSorted[(Long, Long)](rows.iterator, _._1, _._2)
    val state = replay.state
    assert(outputs.map(_._1) == Vector(Vector(1L, 2L)), "rows 3 and 4 are late-dropped")
    assert(state.isDefined)
    val zombie = state.get.wrapper.onTimeout(TimeoutWatermark.value, 0L)
    assert(outs(zombie).isEmpty, "the triggered window never re-fires on flush")
  }

  // ---- watermarks.pony:141-142: _still_relevant is
  // (current_ts - last_heard) < threshold — an upstream silent for
  // EXACTLY the threshold is already evicted.

  test("upstream silent for exactly the eviction threshold is evicted; one tick less is live") {
    val w1 = new StageWatermarks(seconds(10))
    w1.receiveWatermark(1, seconds(5), seconds(100))
    // one tick inside the threshold: still holds the watermark
    assert(w1.checkEffectiveInputWatermark(seconds(100) + seconds(10) - 1) == seconds(5))
    val w2 = new StageWatermarks(seconds(10))
    w2.receiveWatermark(1, seconds(5), seconds(100))
    // exactly at the threshold: evicted (strict <), trigger everything
    assert(w2.checkEffectiveInputWatermark(seconds(100) + seconds(10)) == TimeoutWatermark.value,
      "a seeded <= keeps the stale upstream holding the watermark forever")
  }
}
