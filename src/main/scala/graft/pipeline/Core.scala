package graft.pipeline

/** Core user-facing contracts of the pipeline DSL, re-expressing the
  * reference's computation/aggregation surface in Scala.
  *
  * Reference (all paths under /root/reference/):
  *  - `ComputationResult`: lib/wallaroo/core/topology/computations.pony:30-31
  *    — a computation emits one output, many, many with explicit event
  *    timestamps, or nothing.
  *  - `StatelessComputation`: computations.pony:38-46 — map / filter /
  *    flatMap are all one operator discriminated by the result type.
  *  - `StateComputation`: computations.pony:48-109 — per-key mutable state
  *    updated per message.
  *  - `Aggregation`: lib/wallaroo/core/aggregations/aggregations.pony:24-39
  *    — zero / update / associative non-mutating combine / finish-with-key-
  *    and-window-end, with `None` output suppression.
  *
  * Event time is a `Long` in nanoseconds, matching the reference's `U64`
  * event_time_ns (core/source/source_handler.pony:28). Spark timestamps are
  * microseconds; the streaming runner truncates only where it must hand a
  * timestamp column to Spark, keeping ns internally.
  */
sealed trait ComputationResult[+Out]

object ComputationResult {
  /** Emit nothing (filter-out). Reference: `None`. */
  case object Discard extends ComputationResult[Nothing]
  /** Emit one output carrying the input's event timestamp. */
  final case class One[Out](out: Out) extends ComputationResult[Out]
  /** Emit many outputs, all carrying the input's event timestamp. */
  final case class Many[Out](outs: Seq[Out]) extends ComputationResult[Out]
  /** Emit many outputs, each with its own event timestamp (ns). Window
    * triggers use this shape (output_processor.pony:90-128). */
  final case class Timestamped[Out](outs: Seq[(Out, Long)])
      extends ComputationResult[Out]

  /** The (output, event ts) pairs `r` emits for an input stamped `ts`. */
  def stamp[Out](r: ComputationResult[Out], ts: Long): Iterator[(Out, Long)] = r match {
    case Discard         => Iterator.empty
    case One(o)          => Iterator.single((o, ts))
    case Many(os)        => os.iterator.map((_, ts))
    case Timestamped(os) => os.iterator
  }
}

/** 1→{0,1,N} record computation with no state.
  * Reference: computations.pony:38-46. */
trait StatelessComputation[In, Out] extends Serializable {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def apply(input: In): ComputationResult[Out]
}

/** Per-key stateful computation: arbitrary mutable state `S`, updated on
  * every message for the key, emitting 0..N outputs per message.
  * Reference: computations.pony:48-109; runner.pony:314-458.
  * Spark mapping: `groupByKey(...).flatMapGroupsWithState`. */
trait StateComputation[In, Out, S] extends Serializable {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def initialState(): S
  def apply(input: In, state: S): ComputationResult[Out]
}

/** The reference's aggregation contract (aggregations.pony:24-39), which is
  * Spark's `Aggregator[IN,BUF,OUT]` (zero/reduce/merge/finish) plus key and
  * window-end injection at finish and `None`-suppression. Type order
  * [In, Out, Acc] matches the reference.
  *
  *  - `update` MAY mutate `acc` (per-message hot path).
  *  - `combine` MUST NOT mutate either argument (the pane trigger reuses one
  *    identity accumulator across every trigger —
  *    panes_range_windows.pony:277-289).
  */
trait Aggregation[In, Out, Acc] extends Serializable {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def initialAccumulator(): Acc
  def update(input: In, acc: Acc): Unit
  def combine(acc1: Acc, acc2: Acc): Acc
  def output(key: String, windowEndTs: Long, acc: Acc): Option[Out]
}

/** Late-data policies (late_data_policy.pony:2-5). */
sealed trait LateDataPolicy extends Serializable
object LateDataPolicy {
  /** Default: late messages are ignored. */
  case object Drop extends LateDataPolicy
  /** Each late message fires a singleton window whose end is the message's
    * own event timestamp. */
  case object FirePerMessage extends LateDataPolicy
  /** Fold the late message into the oldest still-open window. Not valid for
    * ephemeral windows (ephemeral_window.pony:55-57). */
  case object PlaceInOldestWindow extends LateDataPolicy
}

/** Routing policies for [[Pipeline.partitionWith]]
  * (core/partitioning/partitioning.pony:39-106). */
sealed trait PartitionerConfig
object PartitionerConfig {
  case object Passthrough extends PartitionerConfig
  final case class Random(numPartitions: Int) extends PartitionerConfig
  case object Single extends PartitionerConfig
  final case class Key[T](extractor: T => String) extends PartitionerConfig
}

object TimeoutWatermark {
  /** Sentinel watermark forcing every window containing data to flush
    * (watermarks.pony:144-146: `U64.max_value()`). */
  val value: Long = Long.MaxValue
}
