package graft.pipeline

import scala.collection.mutable

/** Per-stage event-time watermark tracking
  * (core/windows/watermarks.pony:26-146).
  *
  * Input watermark = min over live upstreams' watermarks; an upstream that
  * has been silent longer than `lastHeardThreshold` (wall-clock ns) stops
  * holding the watermark back — this is how straggler windows eventually
  * trigger when a source goes quiet (the idle-source eviction Spark's
  * global watermark lacks; see SURVEY §7.4.2). Output watermark = the
  * newest timestamp this stage has fully emitted.
  *
  * In the Spark runner the global query watermark plays this role across
  * stages; neither host uses StageWatermarks. Only the unit tests drive
  * it, and it documents the semantics the streaming path inherits.
  */
final class StageWatermarks(lastHeardThreshold: Long = 10_000_000_000L) {
  // upstream id -> (watermark, lastHeardWallClock)
  private val upstreams = mutable.Map.empty[Long, (Long, Long)]
  private var inputWm: Long = 0L
  private var outputWm: Long = 0L

  def receiveWatermark(upstream: Long, w: Long, currentTs: Long): Long = {
    upstreams(upstream) = (w, currentTs)
    if (w > inputWm) checkEffectiveInputWatermark(currentTs) else inputWm
  }

  /** Min over still-relevant upstreams; evicts silent ones. When every
    * upstream is stale the returned watermark is TimeoutWatermark (trigger
    * everything) but the stored input watermark keeps its old value. */
  def checkEffectiveInputWatermark(currentTs: Long): Long = {
    var foundLive = false
    var newMin = TimeoutWatermark.value
    val stale = mutable.ArrayBuffer.empty[Long]
    upstreams.foreach { case (u, (w, lastHeard)) =>
      if (currentTs - lastHeard < lastHeardThreshold) {
        if (w < newMin) { newMin = w; foundLive = true }
      } else stale += u
    }
    stale.foreach(upstreams.remove)
    if (newMin > inputWm) {
      if (foundLive) inputWm = newMin
      newMin
    } else inputWm
  }

  def updateOutputWatermark(w: Long): (Long, Long) = {
    val old = outputWm
    if (w > outputWm && w < TimeoutWatermark.value) outputWm = w
    (outputWm, old)
  }

  def inputWatermark: Long = inputWm
  def outputWatermark: Long = outputWm
}
