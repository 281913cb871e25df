package graft.pipeline

/** The one per-key driver of the keyed-state host (the reference's
  * runner: per-message apply plus the per-step timer,
  * runner.pony:314-501). Both hosts in [[Pipeline]] step it:
  *  - streaming (`flatMapGroupsWithState`): one driver per key per
  *    micro-batch, opened on the stored [[KeyState]] with the query
  *    watermark; [[stepSorted]] replays the batch's rows in event-time
  *    order, and a timeout [[fire]]s at the query watermark;
  *  - batch (`flatMapSortedGroups`): one driver per key, opened at
  *    watermark 0, [[step]]ped over Spark's lazy sorted iterator, then
  *    [[fire]]d at [[TimeoutWatermark.value]] at end of input.
  *
  * It owns the four rules both hosts share: the watermark presented to
  * the state machine rides max(watermark, max event ts stepped so far);
  * the key's output watermark only advances; a `retain_state=false`
  * verdict (runner.pony:448-450) drops the state; and the key's next
  * event opens a fresh wrapper carrying the output watermark.
  *
  * The riding watermark is the reference's per-message stamping of event
  * time into the stage watermark (core/source/source_handler.pony:28,
  * watermarks.pony), which Spark only folds into its global watermark at
  * batch boundaries; riding the key's own event time restores the
  * per-message trigger cadence, so both hosts anchor windows alike.
  */
private[pipeline] final class KeyReplay[T, U](
    init: StateInitializer[T, U], key: String,
    existing: Option[KeyState[T, U]], watermarkNs: Long) {
  private var ks = existing.getOrElse(KeyState[T, U](init.stateWrapper(key), 0L))
  private var live = true
  private var rideWm = watermarkNs

  /** Apply one event (event ts `ts` ns) to the key's state machine. */
  def step(value: T, ts: Long): Vector[(U, Long)] = {
    if (!live) { // state was dropped: the next event opens a fresh wrapper
      ks = KeyState[T, U](init.stateWrapper(key), ks.outputWm)
      live = true
    }
    rideWm = math.max(rideWm, ts)
    val (os, ow, retain) = ks.wrapper(value, ts, rideWm)
    ks.outputWm = math.max(ks.outputWm, ow)
    live = retain
    os
  }

  /** Step every row in event-time order (a stable sort: equal
    * timestamps keep arrival order). Rows stay in the host's native row
    * type `R`, so the hot path allocates no per-row wrapper. */
  def stepSorted[R](rows: Iterator[R], value: R => T, ts: R => Long): Vector[(U, Long)] = {
    val arr = rows.map(_.asInstanceOf[AnyRef]).toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[AnyRef] {
      def compare(a: AnyRef, b: AnyRef): Int =
        java.lang.Long.compare(ts(a.asInstanceOf[R]), ts(b.asInstanceOf[R]))
    })
    val outs = Vector.newBuilder[(U, Long)]
    arr.foreach(r => outs ++= step(value(r.asInstanceOf[R]), ts(r.asInstanceOf[R])))
    outs.result()
  }

  /** Fire the key's timer at watermark `wmNs`: the query watermark on a
    * streaming timeout, [[TimeoutWatermark.value]] at the end of a batch
    * replay, which triggers every window holding data. A dropped state
    * has nothing to fire. */
  def fire(wmNs: Long): Vector[(U, Long)] =
    if (!live) Vector.empty
    else {
      val (os, ow, retain) = ks.wrapper.onTimeout(wmNs, ks.outputWm)
      ks.outputWm = math.max(ks.outputWm, ow)
      live = retain
      os
    }

  /** The key's state to keep, or `None` when the last verdict dropped it
    * with no later event re-opening it. */
  def state: Option[KeyState[T, U]] = if (live) Some(ks) else None
}
