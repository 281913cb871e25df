package graft.pipeline

/** Window builders — the user-facing surface of
  * `Wallaroo.range_windows / count_windows / ephemeral_windows`
  * (lib/wallaroo/application.pony:54-63, core/windows/windows.pony:37-115).
  * Entry points live on [[Graft]].
  *
  * Divergence from the reference, by design (SURVEY §2.3 #21): windows are
  * ALIGNED by default. The reference staggers each key's window start by a
  * random offset up to 0.8×range (panes_range_windows.pony:97-110) to avoid
  * thundering-herd triggers; on Spark a recomputed task must be
  * deterministic, so `.unaligned()` here derives the stagger from a hash of
  * the key — same load-spreading, stable across retries.
  */
trait StateInitializer[In, Out] extends Serializable {
  def name: String
  def stateWrapper(key: String): StateWrapper[In, Out]
  /** The reference's recurring wall-clock timer period (ns);
    * 0 = no timer needed (runner.pony:465-501). In the Spark hosts only
    * >0 vs 0 matters: an event-time timer cannot model a wall-clock
    * cadence (a stalled watermark would withhold flushes forever), so
    * silent keys flush at the next watermark advance instead — see the
    * timer note in Pipeline.streamingStateful. The magnitude documents
    * the reference's period for the conformance reader. */
  def timeoutIntervalNs: Long
  /** How far behind the stream's max event time a row may arrive and still
    * reach the state machine. Spark drops rows older than the watermark
    * before a stateful operator; the streaming runner shifts the watermark
    * column by this slack so that the Spark-level drop is EXACTLY the
    * machine's own late threshold (drop-policy range windows — late rows
    * then die before the shuffle, a scale win the reference can't get), or
    * effectively never (stages whose late handling is internal).
    * [[StateInitializer.InfiniteSlack]] = never drop. */
  def watermarkSlackNs: Long = StateInitializer.InfiniteSlack
}

object StateInitializer {
  /** ~100 years in ns; ts + slack stays well inside Long for any epoch ts. */
  val InfiniteSlack: Long = 3153600000L * 1000000000L
}

final class RangeWindowsBuilder(range: Long) {
  private var slide: Long = range
  private var delay: Long = 0L
  private var aligned: Boolean = true
  private var policy: LateDataPolicy = LateDataPolicy.Drop

  def withSlide(s: Long): RangeWindowsBuilder = { slide = s; this }
  def withDelay(d: Long): RangeWindowsBuilder = { delay = d; this }
  /** Windows are aligned unless this is called (see the file doc). */
  def unaligned(): RangeWindowsBuilder = { aligned = false; this }
  def withLateDataPolicy(p: LateDataPolicy): RangeWindowsBuilder = { policy = p; this }

  def over[In, Out, Acc](agg: Aggregation[In, Out, Acc]): StateInitializer[In, Out] = {
    require(slide <= range,
      s"A window's slide cannot be greater than its range. But found slide $slide for range $range")
    new RangeWindowsStateInitializer(agg, range, slide, delay, policy, aligned)
  }
}

final class RangeWindowsStateInitializer[In, Out, Acc](
    agg: Aggregation[In, Out, Acc],
    range: Long, slide: Long, delay: Long,
    policy: LateDataPolicy, aligned: Boolean) extends StateInitializer[In, Out] {
  def name: String = agg.name
  def stateWrapper(key: String): StateWrapper[In, Out] = {
    val stagger =
      if (aligned) 0.0
      else (graft.functions.Portable.jvmHash(key, "stagger") & 0xffffffffL).toDouble / (1L << 32).toDouble
    new InitializableWindows[In, Out, Acc]((_, watermarkTs) =>
      new PanesRangeWindows(key, agg, range, slide, delay, policy, watermarkTs, stagger))
  }
  /** windows.pony:282-285. */
  def timeoutIntervalNs: Long = (range + delay) * 2

  /** Drop policy: a row is accepted by the pane machine iff some window
    * containing it is still open, i.e. ts ≥ watermark − (normalizedDelay +
    * range); +1 s covers the ms truncation of the Spark watermark. Non-drop
    * policies must see every late row. */
  override def watermarkSlackNs: Long =
    if (policy == LateDataPolicy.Drop) {
      val normalizedDelay = math.ceil(delay.toDouble / slide.toDouble).toLong * slide
      normalizedDelay + range + 1000000000L
    } else StateInitializer.InfiniteSlack
}

final class CountWindowsBuilder(count: Int) {
  // fail-fast like RangeWindowsBuilder's slide/range check: count <= 0
  // would silently degrade to a one-message window per input
  require(count > 0, s"Count windows must trigger on a count greater than 0, got $count")
  def over[In, Out, Acc](agg: Aggregation[In, Out, Acc]): StateInitializer[In, Out] =
    new CountWindowsStateInitializer(agg, count)
}

final class CountWindowsStateInitializer[In, Out, Acc](
    agg: Aggregation[In, Out, Acc], count: Int) extends StateInitializer[In, Out] {
  def name: String = agg.name
  def stateWrapper(key: String): StateWrapper[In, Out] =
    new TumblingCountWindows(key, agg, count)
  /** The reference flushes partial count windows on a 5 s wall-clock
    * tick (windows.pony:446-447); the Spark hosts flush a silent key at
    * the next watermark advance (same flush set, earlier boundaries —
    * see Pipeline.streamingStateful's timer note). */
  def timeoutIntervalNs: Long = 5_000_000_000L
}

final class EphemeralWindowsBuilder(triggerRange: Long, postTriggerRange: Long) {
  private var delay: Long = 0L
  private var policy: LateDataPolicy = LateDataPolicy.Drop
  /** Conformance caveat: for ephemeral windows the reference stores the
    * delay but never folds it into the trigger or remove points
    * (ephemeral_window.pony:95-102 — `_trigger_point =
    * _starting_watermark_ts + trigger_range`, `_delay` read only by the
    * timeout interval, windows.pony:409-411), so `withDelay` does NOT
    * extend late-arrival tolerance before the trigger: in-delay events
    * after the trigger still follow the late-data policy. This port keeps
    * that behavior exactly (pinned by EphemeralWindowsSpec); the delay's
    * only effect is the timer cadence below. */
  def withDelay(d: Long): EphemeralWindowsBuilder = { delay = d; this }
  def withLateDataPolicy(p: LateDataPolicy): EphemeralWindowsBuilder = { policy = p; this }
  def over[In, Out, Acc](agg: Aggregation[In, Out, Acc]): StateInitializer[In, Out] =
    new EphemeralWindowsStateInitializer(agg, triggerRange, postTriggerRange, delay, policy)
}

final class EphemeralWindowsStateInitializer[In, Out, Acc](
    agg: Aggregation[In, Out, Acc],
    triggerRange: Long, postTriggerRange: Long, delay: Long,
    policy: LateDataPolicy) extends StateInitializer[In, Out] {
  def name: String = agg.name
  def stateWrapper(key: String): StateWrapper[In, Out] =
    new InitializableWindows[In, Out, Acc]((firstEventTs, watermarkTs) =>
      new EphemeralWindow(key, agg, triggerRange, postTriggerRange, delay, policy,
        firstEventTs, watermarkTs))
  /** windows.pony:409-411. */
  def timeoutIntervalNs: Long = triggerRange + delay
}

/** An Aggregation used directly as a stage = a global window emitting one
  * output per message (windows.pony:160-238). */
final class GlobalWindowStateInitializer[In, Out, Acc](
    agg: Aggregation[In, Out, Acc]) extends StateInitializer[In, Out] {
  def name: String = agg.name
  def stateWrapper(key: String): StateWrapper[In, Out] = new GlobalWindow(key, agg)
  def timeoutIntervalNs: Long = 0L
}

/** A StateComputation used as a stage (computations.pony:48-109). */
final class StateComputationInitializer[In, Out, S](
    comp: StateComputation[In, Out, S]) extends StateInitializer[In, Out] {
  def name: String = comp.name
  def stateWrapper(key: String): StateWrapper[In, Out] = new StateComputationWrapper(comp)
  def timeoutIntervalNs: Long = 0L
}
