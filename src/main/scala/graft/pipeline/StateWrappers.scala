package graft.pipeline

import scala.collection.mutable.ArrayBuffer

/** Per-key state machines: the semantic core of the engine's windowing.
  *
  * Each wrapper is a plain, synchronously-drivable object — exactly the
  * surface the reference's window unit tests exercise
  * (core/windows/_test_windows.pony drives `state_wrapper(...)` with
  * explicit (input, event_ts, watermark_ts) triples). The streaming runner
  * hosts these same objects inside `flatMapGroupsWithState`, so the unit-
  * tested semantics and the production semantics are one implementation.
  *
  * All results are `(outputs, outputWatermarkTs, retainState)` where
  * outputs are (value, eventTsNs) pairs — the reference's
  * `WindowOutputs[Out]` (windows.pony:33).
  */
trait StateWrapper[In, Out] extends Serializable {
  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean)
  /** Timer fired with the current input watermark (runner.pony:465-501).
    * At [[TimeoutWatermark.value]] it is the end-of-stream flush: every
    * window holding data triggers. */
  def onTimeout(inputWatermarkTs: Long, outputWatermarkTs: Long): (Vector[(Out, Long)], Long, Boolean)
}

/** Wraps a `StateComputation` as a state wrapper: per-message apply, no
  * window machinery (computations.pony:82-109 StateComputationWrapper). */
final class StateComputationWrapper[In, Out, S](
    comp: StateComputation[In, Out, S]) extends StateWrapper[In, Out] {
  private var state: S = comp.initialState()

  /** Read-only view of the user state, for checkpoint forensics
    * ([[StateIntrospection]] — the recovery gate's double-apply detector
    * compares the DECODED per-key state across chains, because the raw
    * kryo blob also carries the grouping-sensitive outputWm). */
  private[graft] def currentState: S = state

  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    (ComputationResult.stamp(comp(input, state), eventTs).toVector, watermarkTs, true)
  }
  def onTimeout(inputWm: Long, outputWm: Long): (Vector[(Out, Long)], Long, Boolean) =
    (Vector.empty, inputWm, true)
}

/** Global window: running aggregate, one output per input message, window
  * end = the message's own event timestamp (windows.pony:200-230). */
final class GlobalWindow[In, Out, Acc](
    key: String, agg: Aggregation[In, Out, Acc]) extends StateWrapper[In, Out] {
  private val acc: Acc = agg.initialAccumulator()

  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    agg.update(input, acc)
    val outs = agg.output(key, eventTs, acc) match {
      case Some(o) => Vector((o, eventTs))
      case None    => Vector.empty
    }
    (outs, watermarkTs, true)
  }
  def onTimeout(inputWm: Long, outputWm: Long): (Vector[(Out, Long)], Long, Boolean) =
    (Vector.empty, inputWm, true)
}

/** Tumbling count window: trigger after `count` messages per key; the
  * timer emits a partial window (windows.pony:428-519). The partial output's
  * window end is the PREVIOUS output watermark and the new output watermark
  * jumps to the input watermark — mirroring TumblingCountWindows.on_timeout
  * exactly (windows.pony:478-499). */
final class TumblingCountWindows[In, Out, Acc](
    key: String, agg: Aggregation[In, Out, Acc], countTrigger: Int)
    extends StateWrapper[In, Out] {
  private var acc: Acc = agg.initialAccumulator()
  private var currentCount: Int = 0

  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    agg.update(input, acc)
    currentCount += 1
    val outs =
      if (currentCount >= countTrigger) trigger(eventTs).map((_, eventTs)).toVector
      else Vector.empty
    (outs, watermarkTs, true)
  }

  def onTimeout(inputWm: Long, outputWm: Long): (Vector[(Out, Long)], Long, Boolean) =
    if (currentCount > 0) {
      val outs = trigger(outputWm).map((_, outputWm)).toVector
      (outs, inputWm, true)
    } else (Vector.empty, outputWm, true)

  private def trigger(windowEndTs: Long): Option[Out] = {
    val out = agg.output(key, windowEndTs, acc)
    acc = agg.initialAccumulator()
    currentCount = 0
    out
  }
}

/** Lazily-initialized windows: the first message's (event_ts, watermark_ts)
  * anchors the window layout (windows.pony:305-361 InitializableWindows +
  * windows_phase.pony). */
final class InitializableWindows[In, Out, Acc](
    builder: (Long, Long) => WindowsWrapper[In, Out, Acc])
    extends StateWrapper[In, Out] {
  private var wrapper: WindowsWrapper[In, Out, Acc] = _

  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    if (wrapper == null) wrapper = builder(eventTs, watermarkTs)
    wrapper(input, eventTs, watermarkTs)
  }
  def onTimeout(inputWm: Long, outputWm: Long): (Vector[(Out, Long)], Long, Boolean) =
    if (wrapper == null) (Vector.empty, outputWm, true)
    else wrapper.attemptToTrigger(inputWm)

  /** Test hook (CheckPanesAreIncreasing in _test_windows.pony). */
  def panesIncreasing: Boolean = wrapper == null || wrapper.checkPanesIncreasing
}

trait WindowsWrapper[In, Out, Acc] extends Serializable {
  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean)
  def attemptToTrigger(watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean)
  def checkPanesIncreasing: Boolean = true
}

/** Panes-based tumbling/sliding range windows
  * (core/windows/panes_range_windows.pony:61-424).
  *
  * Window layout: pane size = gcd(range, slide); a ring of panes covers
  * [earliest, earliest + paneCount·paneSize). The first pane starts at
  * (first watermark − delay − stagger); delay is normalized UP to a multiple
  * of the slide (panes_range_windows.pony:392-409). A window [s, s+range)
  * triggers once watermark − delay > s + range − 1, emitting with event ts
  * = s + range − 1. Events beyond the covered span expand the ring
  * (:301-329); events before it are late and handled per policy (:146-168).
  *
  * The arithmetic is in signed Long where the reference used U64; every
  * subtraction that could underflow carries an explicit floor-at-zero guard
  * mirroring the reference's wraparound checks.
  */
final class PanesRangeWindows[In, Out, Acc](
    key: String,
    agg: Aggregation[In, Out, Acc],
    range: Long,
    slide: Long,
    delay: Long,
    lateDataPolicy: LateDataPolicy,
    initialWatermarkTs: Long,
    staggerFraction: Double) extends WindowsWrapper[In, Out, Acc] {
  require(range > 0, "Range windows must have a range greater than 0")
  require(slide > 0, "Range windows must have a slide greater than 0")
  require(slide <= range, s"A window's slide cannot be greater than its range (slide $slide, range $range)")

  private val identityAcc: Acc = agg.initialAccumulator()

  // _InitializePaneParameters (panes_range_windows.pony:392-409). The
  // reference computes these in 64-bit USize; narrowing to Int is a port
  // decision (JVM arrays are Int-indexed), so every narrowing is guarded —
  // a near-coprime range/slide (huge range/gcd ratio) or an extreme
  // delay/slide ratio must fail fast at construction, not wrap negative
  // and corrupt the ring.
  private def asPaneCount(v: Long, what: String): Int = {
    require(v <= PanesRangeWindows.MaxPaneCount,
      s"$what = $v panes for key '$key' (range $range, slide $slide, " +
        s"delay $delay) exceeds the ${PanesRangeWindows.MaxPaneCount} sanity " +
        "cap; pick a range/slide pair with a larger gcd or a smaller delay")
    v.toInt
  }
  private val paneSize: Long = gcd(range, slide)
  private val panesPerSlide: Int = asPaneCount(slide / paneSize, "panes per slide")
  private val panesPerWindow: Int = asPaneCount(range / paneSize, "panes per window")
  private val delaySlideUnits: Long = math.ceil(delay.toDouble / slide.toDouble).toLong
  private val normalizedDelay: Long = slide * delaySlideUnits
  private val initialPaneCount: Int = asPaneCount(
    panesPerWindow.toLong + delaySlideUnits * panesPerSlide, "initial pane count")

  private var panes: ArrayBuffer[Acc] = ArrayBuffer.fill(initialPaneCount)(null.asInstanceOf[Acc])
  private var panesStartTs: ArrayBuffer[Long] = {
    // Random stagger up to 0.8×range avoids thundering-herd triggers
    // (panes_range_windows.pony:97-110); 0 when aligned.
    val stagger = (staggerFraction * 0.8 * range.toDouble).toLong
    var start = initialWatermarkTs - normalizedDelay - stagger
    if (start < 0) start = 0 // underflow guard (:108-110)
    ArrayBuffer.tabulate(initialPaneCount)(i => start + i * paneSize)
  }
  private var earliestWindowIdx: Int = 0
  private var highestSeenEventTs: Long = initialWatermarkTs

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  private def earliestTs: Long = panesStartTs(earliestWindowIdx)
  private def allPaneRange: Long = panes.length.toLong * paneSize
  private def endTs: Long = earliestTs + allPaneRange - 1

  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    highestSeenEventTs = math.max(highestSeenEventTs, eventTs)
    var isLate = false
    var applied = false
    if (eventTs <= endTs) {
      isLate = applyInput(input, eventTs, earliestTs)
      applied = true
    }

    var (outs, outputWatermarkTs, retain) = attemptToTrigger(watermarkTs)

    if (!applied) {
      if (eventTs > endTs) expandWindows(eventTs, endTs)
      isLate = applyInput(input, eventTs, earliestTs)
    }

    if (isLate) lateDataPolicy match {
      case LateDataPolicy.Drop => ()
      case LateDataPolicy.FirePerMessage =>
        // Singleton window whose end is the late message's own event ts.
        val acc = agg.initialAccumulator()
        agg.update(input, acc)
        agg.output(key, eventTs, acc).foreach(o => outs = outs :+ (o, eventTs))
        outputWatermarkTs = math.max(outputWatermarkTs, eventTs)
      case LateDataPolicy.PlaceInOldestWindow =>
        applyInput(input, earliestTs, earliestTs)
    }
    (outs, outputWatermarkTs, retain)
  }

  /** Returns true iff the input is late (before the earliest open pane). */
  private def applyInput(input: In, eventTs: Long, earliest: Long): Boolean =
    if (eventTs >= earliest) {
      val paneIdx = (earliestWindowIdx + ((eventTs - earliest) / paneSize).toInt) % panes.length
      if (panes(paneIdx) == null) panes(paneIdx) = agg.initialAccumulator()
      agg.update(input, panes(paneIdx))
      false
    } else true

  def attemptToTrigger(inputWatermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    val outs = Vector.newBuilder[(Out, Long)]
    var outputWatermarkTs = 0L
    val triggerOffset = range + normalizedDelay
    val effectiveWatermarkTs =
      if (inputWatermarkTs == TimeoutWatermark.value)
        highestSeenEventTs + triggerOffset // force-trigger all populated windows
      else inputWatermarkTs

    val lastPaneIdx = (earliestWindowIdx + panes.length - 1) % panes.length
    val lastPaneStart = panesStartTs(lastPaneIdx)
    var lowestPossibleNewStart = effectiveWatermarkTs - triggerOffset
    if (lowestPossibleNewStart < 0) lowestPossibleNewStart = 0
    val triggerDiff = math.max(0L, lowestPossibleNewStart - lastPaneStart)

    var stopped = false
    while (!stopped) {
      val earliest = earliestTs
      val windowEndTs = earliest + range - 1
      if (shouldTrigger(earliest, effectiveWatermarkTs)) {
        triggerNext(earliest, windowEndTs, triggerDiff).foreach(o => outs += ((o, windowEndTs)))
        outputWatermarkTs = math.max(outputWatermarkTs, windowEndTs)
      } else stopped = true
    }
    (outs.result(), outputWatermarkTs, true)
  }

  private def shouldTrigger(windowStartTs: Long, watermarkTs: Long): Boolean = {
    val endBound = watermarkTs - normalizedDelay
    if (endBound < 0 && watermarkTs >= 0) false // too early (underflow guard)
    else (windowStartTs + range - 1) < endBound
  }

  /** Combine the earliest window's panes, emit, clear+advance one slide
    * (panes_range_windows.pony:276-299). */
  private def triggerNext(earliest: Long, windowEndTs: Long, triggerDiff: Long): Option[Out] = {
    var running = identityAcc
    var paneIdx = earliestWindowIdx
    var i = 0
    while (i < panesPerWindow) {
      val next = panes(paneIdx)
      if (next != null) running = agg.combine(running, next)
      paneIdx = (paneIdx + 1) % panes.length
      i += 1
    }
    val out = agg.output(key, windowEndTs, running)
    var nextStartTs = earliest + allPaneRange + triggerDiff
    var nextPaneIdx = earliestWindowIdx
    i = 0
    while (i < panesPerSlide) {
      panes(nextPaneIdx) = null.asInstanceOf[Acc]
      panesStartTs(nextPaneIdx) = nextStartTs
      nextPaneIdx = (nextPaneIdx + 1) % panes.length
      nextStartTs += paneSize
      i += 1
    }
    earliestWindowIdx = nextPaneIdx
    out
  }

  /** Grow the ring to cover a future event (panes_range_windows.pony:301-329
    * + _ExpandSlidingWindow:411-424). New pane count is rounded so the total
    * stays a multiple of panesPerSlide.
    *
    * Deliberate divergence from the reference's arithmetic: `_ExpandSlidingWindow`
    * (:417) takes lcm(minNewPanes, panesPerSlide), which satisfies its two
    * invariants (cover the event; keep the total a multiple of panesPerSlide)
    * but overshoots catastrophically when the two are coprime — e.g.
    * panesPerSlide=1000 with a gap of 3,600,001 panes gives an lcm of
    * 3.6e9: in the 64-bit reference that's an OOM-sized allocation, and the
    * former `.toInt` port wrapped it NEGATIVE, so ArrayBuffer.fill returned
    * an EMPTY ring and the copy loop crashed the query. Rounding
    * minNewPanes UP to the next multiple of panesPerSlide preserves both
    * documented invariants (asserted at :421-422 in the reference) with the
    * minimal ring, and the emitted windows are identical — ring size only
    * sets the coverage horizon, never a window boundary. The remaining
    * gap-proportional growth is guarded Long-side so a pathological
    * event-time jump fails loudly instead of exhausting the heap. */
  private def expandWindows(eventTs: Long, end: Long): Unit = {
    val minNewPanes = ((eventTs - (end + 1)) / paneSize) + 1
    val ceilToSlide =
      ((minNewPanes + panesPerSlide - 1) / panesPerSlide) * panesPerSlide.toLong
    val newCountL = ceilToSlide + panes.length
    require(newCountL <= PanesRangeWindows.MaxPaneCount,
      s"window ring for key '$key' would need $newCountL panes " +
        s"(event ts $eventTs is ${eventTs - end} beyond the covered span, " +
        s"pane size $paneSize) — beyond the ${PanesRangeWindows.MaxPaneCount} " +
        "sanity cap; widen the slide/range or fix the event-time source")
    val newCount = newCountL.toInt
    val newPanes = ArrayBuffer.fill(newCount)(null.asInstanceOf[Acc])
    val newStarts = ArrayBuffer.fill(newCount)(0L)
    val oldSize = panes.length
    var paneStart = 0L
    var i = 0
    while (i < oldSize) {
      val idx = (earliestWindowIdx + i) % oldSize
      newPanes(i) = panes(idx)
      paneStart = panesStartTs(idx)
      newStarts(i) = paneStart
      i += 1
    }
    while (i < newCount) {
      paneStart += paneSize
      newStarts(i) = paneStart
      i += 1
    }
    panes = newPanes
    panesStartTs = newStarts
    earliestWindowIdx = 0
  }

  /** Test hook: current ring size (exercises the expansion vectors of
    * _test_expand_sliding_window.pony through the public apply path). */
  def paneCount: Int = panes.length

  override def checkPanesIncreasing: Boolean =
    (1 until panes.length).forall { off =>
      panesStartTs((earliestWindowIdx + off) % panes.length) >=
        panesStartTs((earliestWindowIdx + off - 1) % panes.length)
    }
}

object PanesRangeWindows {
  /** Hard cap on a single key's pane ring (128M panes ≈ 1 GB of refs) —
    * any configuration or event-time jump needing more is a defect to
    * surface, not an allocation to attempt. */
  val MaxPaneCount: Long = 1L << 27
}

/** One-shot per-key window (core/windows/ephemeral_window.pony:65-166):
  * opens on the key's first message, triggers once the watermark passes
  * (opening watermark + triggerRange), drops its state once the watermark
  * passes (trigger point + postTriggerRange). Messages arriving after the
  * trigger follow the late-data policy; after removal, the key's next
  * message opens a fresh window (handled by the host recreating state). */
final class EphemeralWindow[In, Out, Acc](
    key: String,
    agg: Aggregation[In, Out, Acc],
    triggerRange: Long,
    postTriggerRange: Long,
    delay: Long,
    lateDataPolicy: LateDataPolicy,
    firstEventTs: Long,
    startingWatermarkTs: Long) extends WindowsWrapper[In, Out, Acc] {
  require(triggerRange > 0, "Ephemeral windows must have a trigger range greater than 0")
  require(lateDataPolicy != LateDataPolicy.PlaceInOldestWindow,
    "'Place in oldest window' is not a valid late data policy for ephemeral windows")

  private val acc: Acc = agg.initialAccumulator()
  private val triggerPoint: Long = startingWatermarkTs + triggerRange
  private val removePoint: Long = triggerPoint + postTriggerRange
  private var alreadyTriggered: Boolean = false
  private var highestSeenEventTs: Long = startingWatermarkTs

  // Conformance note (ephemeral_window.pony:105-121): the reference also
  // computes an output_watermark_ts.max(event_ts) for the late-fire path
  // and then returns watermark_ts unchanged — the variable is dead there
  // too, so this port returns watermarkTs directly rather than carrying
  // the dead assignment. Late FirePerMessage emissions are stamped with
  // the current watermark (reference :118), even though agg.output sees
  // the message's own event ts as the window end (:156-158).
  def apply(input: In, eventTs: Long, watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    highestSeenEventTs = math.max(highestSeenEventTs, eventTs)
    var outs = Vector.empty[(Out, Long)]
    val retain = watermarkTs < removePoint
    if (!alreadyTriggered) {
      agg.update(input, acc)
      tryTriggerWindow(watermarkTs).foreach(o => outs = outs :+ (o, watermarkTs))
    } else {
      applyLateDataPolicy(input, eventTs).foreach(o => outs = outs :+ (o, watermarkTs))
    }
    (outs, watermarkTs, retain)
  }

  def attemptToTrigger(watermarkTs: Long): (Vector[(Out, Long)], Long, Boolean) = {
    // A TimeoutWatermark flush (end of a batch replay / final drain) must
    // not leak the Long.MaxValue sentinel into the user-visible (out, ts)
    // stamp, the output watermark, or agg.output's window-end argument —
    // downstream windowed stages would overflow `highestSeenEventTs +
    // triggerOffset` negative and silently stop triggering. Map it to the
    // force-trigger point instead, the same discipline as
    // PanesRangeWindows.attemptToTrigger's effectiveWatermarkTs.
    val effective =
      if (watermarkTs == TimeoutWatermark.value)
        math.max(highestSeenEventTs, triggerPoint) + 1
      else watermarkTs
    var outs = Vector.empty[(Out, Long)]
    val retain = watermarkTs < removePoint
    if (!alreadyTriggered)
      tryTriggerWindow(effective).foreach(o => outs = outs :+ (o, effective))
    (outs, effective, retain)
  }

  private def tryTriggerWindow(watermarkTs: Long): Option[Out] =
    if (watermarkTs > triggerPoint) {
      alreadyTriggered = true
      agg.output(key, watermarkTs, acc)
    } else None

  private def applyLateDataPolicy(input: In, eventTs: Long): Option[Out] =
    lateDataPolicy match {
      case LateDataPolicy.Drop => None
      case LateDataPolicy.FirePerMessage =>
        val late = agg.initialAccumulator()
        agg.update(input, late)
        agg.output(key, eventTs, late)
      case LateDataPolicy.PlaceInOldestWindow => None // rejected in ctor
    }
}
