package graft.pipeline

/** The per-key replay core of the streaming host
  * (`flatMapGroupsWithState` in [[Pipeline]]): sort the micro-batch's rows
  * for a key in event-time order, feed the state machine with the
  * watermark riding max(query watermark, max event ts processed so far),
  * handle mid-batch state removal/recreation.
  *
  * Rows stay in the host's native row type `R` (accessor functions
  * extract payload/ts) so the host allocates no per-row wrappers on the
  * hot path.
  */
private[pipeline] object StatefulReplay {

  /** Replay one key's micro-batch rows. Returns (outputs, final state);
    * `None` state means the machine requested removal (retain_state=false,
    * runner.pony:448-450) with no subsequent event re-opening it. */
  def replayInput[R, T, U](
      init: StateInitializer[T, U], key: String, rows: Iterator[R],
      wmNs: Long, existing: Option[KeyState[T, U]],
      value: R => T, ts: R => Long): (Vector[(U, Long)], Option[KeyState[T, U]]) = {
    var ks = existing.getOrElse(KeyState[T, U](init.stateWrapper(key), 0L))
    val outs = Vector.newBuilder[(U, Long)]
    var retain = true
    val buf = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    rows.foreach(r => buf += r.asInstanceOf[AnyRef])
    val arr = buf.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[AnyRef] {
      def compare(a: AnyRef, b: AnyRef): Int =
        java.lang.Long.compare(ts(a.asInstanceOf[R]), ts(b.asInstanceOf[R]))
    })
    // The watermark presented to the state machine rides max(query
    // watermark, max event ts processed so far) — the reference's sources
    // stamp each message's event time into the stage watermark as it
    // flows (core/source/source_handler.pony:28, watermarks.pony), which
    // Spark only folds into its global watermark at batch boundaries;
    // riding the per-key event time restores the per-message trigger
    // cadence and makes the streaming and batch-replay paths anchor
    // windows identically.
    var rideWm = wmNs
    var i = 0
    while (i < arr.length) {
      val r = arr(i).asInstanceOf[R]
      if (!retain) { // state was dropped mid-batch: fresh wrapper
        ks = KeyState[T, U](init.stateWrapper(key), ks.outputWm)
        retain = true
      }
      val t = ts(r)
      rideWm = math.max(rideWm, t)
      val (os, ow, ret) = ks.wrapper(value(r), t, rideWm)
      outs ++= os
      ks.outputWm = math.max(ks.outputWm, ow)
      retain = ret
      i += 1
    }
    (outs.result(), if (retain) Some(ks) else None)
  }

  /** Fire the per-key timer (the reference's per-step timer re-triggering
    * windows on watermark advance, runner.pony:465-501). */
  def fireTimeout[T, U](ks: KeyState[T, U], wmNs: Long):
      (Vector[(U, Long)], Option[KeyState[T, U]]) = {
    val (os, ow, retain) = ks.wrapper.onTimeout(wmNs, ks.outputWm)
    ks.outputWm = math.max(ks.outputWm, ow)
    (os, if (retain) Some(ks) else None)
  }
}
