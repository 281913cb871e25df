package graft

import java.nio.file.Files

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.operators.PipelineQueries
import graft.pipeline._

/** Streaming-throughput benchmark: replays the events table (and the
  * documents and ANN index for two rows) as multi-file parquet streams,
  * or framed TCP for the wire row, through the DSL, and reports wall
  * seconds per row plus rows/sec — the number comparable to the
  * reference's published market-spread ingest figure (~1.5 M
  * msgs/s/worker, BASELINE.md / PERFORMANCE_TESTING_MARKET_SPREAD.md:182).
  *
  * Each row declares what it stages and how it starts its queries: one
  * AvailableNow query, a `through` upstream/downstream pair, the eight
  * wire legs, or the recovery schedule. One runner (`timed`) times every
  * row and derives its record from the measured query's progress
  * (`trialOf`).
  */
object StreamBench {

  /** One published streaming row. `medianSec`/`rowsPerSec` and the
    * batch latency are medians over every trial the row ran (the
    * headline numbers); `trialsSec`/`trialsRps` carry each trial, and
    * `state` the per-trial state-store telemetry. */
  final case class RowOut(name: String, medianSec: Double,
      trialsSec: Seq[Double], rowsPerSec: Double, trialsRps: Seq[Double],
      latency: (Long, Long), provider: String, state: JArray)

  /** `repeats` = the trials each row ran; `extra` = additional
    * top-level artifact keys a row rig wants published alongside its
    * RowOut — e.g. the recovery row's per-trial kill/restart/verify
    * detail. Bench adds them to bench_out.json. */
  final case class Out(rows: Seq[RowOut], failed: Seq[String], repeats: Int,
      extra: Seq[(String, JValue)] = Nil)

  /** Every published stream row, in registration (and artifact) order. */
  val RowNames: Seq[String] = Seq("stream_stateless", "stream_statecomp",
    "stream_market_spread", "stream_sliding", "stream_countwin",
    "stream_ephemeral", "stream_two_stage", "stream_topk", "stream_session",
    "stream_market_spread_wire", "stream_neardup", "stream_ann",
    "stream_session_rocksdb", "stream_market_spread_rocksdb", "stream_recovery")

  /** Standalone entry for iterating on streaming throughput without
    * paying for the batch bench. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-stream-bench")
    val out = run(spark, sfDir)
    out.rows.foreach { r =>
      val spread = r.trialsSec.map(t => f"$t%.2f").mkString("/")
      val rps = r.trialsRps.map(_.round).mkString("/")
      println(f"[stream] ${r.name}%-22s ${r.medianSec}%7.2f s  (trials $spread)  ${r.rowsPerSec.round}%9d rows/s  (trials $rps)  batch p50/max ${r.latency._1}%5d/${r.latency._2}%5d ms  [${r.provider}] state=${js(r.state)}")
    }
    out.failed.foreach(n => println(s"[stream] $n FAILED (see stderr)"))
    out.extra.foreach { case (k, v) => println(s"[stream] $k=${js(v)}") }
    spark.stop()
  }

  private def js(v: JValue): String = compact(render(v))

  private implicit val long3Enc: Encoder[(Long, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  /** stream_ann's index leg admits this many files per micro-batch; the
    * staging write repartitions to the SAME number so every index row is
    * in batch 0 — asserted at staging time (ADVICE r7). */
  val AnnIndexLegMaxFiles = 4

  /** Market-spread-style per-key reject logic
    * (examples/python/market_spread/market_spread.py:85-100): track a
    * per-key running mean; emit an alert when a value exceeds 3× the mean
    * seen so far. */
  final class SpreadState extends Serializable { var sum: Long = 0; var n: Long = 0 }
  object SpreadCheck extends StateComputation[(Long, Long, Long), (Long, Long), SpreadState] {
    override val name = "spread check"
    def initialState(): SpreadState = new SpreadState
    def apply(e: (Long, Long, Long), st: SpreadState): ComputationResult[(Long, Long)] = {
      val alert = st.n > 0 && e._2 * st.n > 3 * st.sum
      st.sum += e._2; st.n += 1
      if (alert) ComputationResult.One((e._1, e._2)) else ComputationResult.Discard
    }
  }

  /** Wire decoder for the network-fed market-spread row: each frame is a
    * 24-byte big-endian (user_id, cents, ts_ns) record; the decoder runs
    * IN-PATH on the executors (the reference's decode boundary —
    * core/source/tcp_source/framed_source_notify.pony:91-119 decodes
    * inside the source notify, not in a pre-pass) and emits the same
    * 5-tuple the parquet-replay legs build: (kind, ts, user, cents,
    * ts + kind), kind fixed per leg so order events ride 1 ns behind
    * their quote twin exactly as in the staged topology. */
  final case class SpreadWireDecoder(kind: Long)
      extends FramedDecoder[(Long, Long, Long, Long, Long)] {
    def decode(payload: Array[Byte]): (Long, Long, Long, Long, Long) = {
      val bb = java.nio.ByteBuffer.wrap(payload)
      val user = bb.getLong
      val cents = bb.getLong
      val ts = bb.getLong
      (kind, ts, user, cents, ts + kind)
    }
    // zero-copy slice decode for the in-scan path (FramedDecoder doc):
    // fields read straight from the chunk buffer, no per-frame payload copy
    override def decodeSliceOpt(bytes: Array[Byte], off: Int, len: Int)
        : Option[(Long, Long, Long, Long, Long)] = {
      val bb = java.nio.ByteBuffer.wrap(bytes, off, len)
      val user = bb.getLong
      val cents = bb.getLong
      val ts = bb.getLong
      Some((kind, ts, user, cents, ts + kind))
    }
    def eventTimeNs(t: (Long, Long, Long, Long, Long)): Long = t._5
  }

  /** Row-preserving variant of [[SpreadCheck]] for the two-stage topology:
    * enrich every event with the key's running mean instead of filtering —
    * so the DOWNSTREAM stage sees the full input volume and its sustained
    * rate measures the chain bottleneck, not a trickle of alerts. */
  object SpreadEnrich extends StateComputation[(Long, Long, Long), (Long, Long, Long), SpreadState] {
    override val name = "spread enrich"
    def initialState(): SpreadState = new SpreadState
    def apply(e: (Long, Long, Long), st: SpreadState): ComputationResult[(Long, Long, Long)] = {
      st.sum += e._2; st.n += 1
      ComputationResult.One((e._1, e._2, st.sum / st.n))
    }
  }

  /** Per-cell state for the stream_ann row: the cell's (id, packed code
    * word) list — exactly the per-partition payload the materialized
    * IVF-PQ index holds for one `cent_id`, at 16 bytes per stored
    * vector ([[graft.functions.AnnWire]]). Index rows append with
    * amortized-O(1) capacity doubling (a plain `:+` would copy the full
    * arrays per row — quadratic priming for a big cell); probe rows scan
    * the first `n` slots with packed-table lookups. */
  final class AnnCell extends Serializable {
    var n: Int = 0
    var ids: Array[Long] = Array.emptyLongArray
    var words: Array[Long] = Array.emptyLongArray
    def append(id: Long, w: Long): Unit = {
      if (n == ids.length) {
        val cap = math.max(8, ids.length * 2)
        ids = java.util.Arrays.copyOf(ids, cap)
        words = java.util.Arrays.copyOf(words, cap)
      }
      ids(n) = id
      words(n) = w
      n += 1
    }
  }

  /** Keyed-by-cell streaming ANN: kind 0 = index row (payload = ONE
    * packed code word), kind 1 = probe (payload = the bit-packed
    * uint16-quantized ADC tables — [[graft.functions.AnnWire]], 66
    * longs ≈ 528 B vs the original float64 contract's ~2 KB). A probe
    * emits the cell-local nearest (query_id, neighbor_id, adist):
    * eight packed-table extracts + seven INT adds + one multiply per
    * stored code, the query vector never ships.
    *
    * WIRE CONTRACT (VERDICT r8 #5): the ADC tables are approximations
    * already (uint16 granularity sits two orders below PQ's own
    * distortion), and the payload's ELEMENT count is what the typed
    * exchange pays per row (encoder boxing), so the packed format cuts
    * both bytes (4×) and elements (257 → 66) — see AnnWire's scaladoc
    * for the exact distance arithmetic. StreamAnnDifferentialSpec pins
    * the scorer bit-exactly against AnnWire's fold over independently
    * packed payloads and checks the winners against the float64 batch
    * argmins. */
  object AnnCellProbe extends StateComputation[
      (Long, Long, Long, Array[Long]), (Long, Long, Double), AnnCell] {
    override val name = "ann cell probe"
    def initialState(): AnnCell = new AnnCell
    def apply(e: (Long, Long, Long, Array[Long]), st: AnnCell): ComputationResult[(Long, Long, Double)] = {
      val (kind, _, id, payload) = e
      if (kind == 0L) {
        st.append(id, payload(0))
        ComputationResult.Discard
      } else {
        // explicit `found` flag, not a Double.MaxValue/-1 sentinel — a
        // real (if absurd) distance equal to the sentinel can never be
        // silently dropped (ADVICE r7)
        var found = false
        var bestId = 0L
        var bestD = 0.0
        var i = 0
        while (i < st.n) {
          val d = graft.functions.AnnWire.score(payload, st.words(i))
          if (!found || d < bestD || (d == bestD && st.ids(i) < bestId)) {
            found = true; bestD = d; bestId = st.ids(i)
          }
          i += 1
        }
        if (found) ComputationResult.One((id, bestId, bestD))
        else ComputationResult.Discard
      }
    }
  }

  /** Hour/type assignment for the stream_topk leaderboard: epoch-aligned
    * hour start (µs) from the ns event time, user_id % 100 as the bounded
    * type label (see the topk() doc below). */
  object BenchHourType
      extends StatelessComputation[(Long, Long, Long), (Long, String)] {
    override val name = "bench hour type"
    def apply(e: (Long, Long, Long)): ComputationResult[(Long, String)] =
      ComputationResult.One(
        ((e._3 / 3600000000000L) * 3600000000L, "t" + (e._1 % 100)))
  }

  /** One micro-batch as its progress reports it: input rows, trigger
    * wall ms, and its state operators' rows held, memory and commit ms. */
  final case class Batch(rows: Long, triggerMs: Long, stateRows: Long,
      stateMemory: Long, commitMs: Long)

  /** One trial of one row: wall seconds, sustained rows/s, batch latency
    * (p50, max) in ms, and the state-store telemetry. */
  final case class Trial(sec: Double, rowsPerSec: Double, latency: (Long, Long),
      stateRows: Long, stateMemory: Long, commitMs: Long)

  /** The row statistics — the one place progress becomes rows/s, latency
    * and state.
    *
    * Sustained rate = input rows / micro-batch execution time, summed
    * over the query's progress events — excludes the fixed query
    * startup/teardown (planning, file listing, checkpoint dir setup)
    * that wall-clock at this scale is dominated by. This is the number
    * comparable to the reference's sustained ingest figure; wall seconds
    * are still reported per trial. Only batches that read rows count.
    * Steady state = all data batches after the first: batch 0 pays
    * one-time JIT/codegen/state-store-format costs that a long-running
    * stream amortizes to zero (the reference's figure is likewise
    * measured at steady state over minutes). With no timed batch at all
    * the rate falls back to `fallbackRows` over the wall seconds.
    * Batch latency (p50 + max over steady-state batches) is the
    * micro-batch analogue of the reference's per-computation latency
    * histograms (core/metrics/histogram.pony).
    * State-store telemetry (VERDICT r4 #6): rows held and memory at the
    * last steady batch, commit ms summed over them. A contended run
    * shows up as commit_ms blowing up while rows/memory stay flat. */
  def trialOf(sec: Double, fallbackRows: Double, batches: Seq[Batch]): Trial = {
    val data = batches.filter(_.rows > 0)
    val steady = if (data.length > 1) data.drop(1) else data
    val ms = steady.map(_.triggerMs).sum
    val durs = steady.map(_.triggerMs).sorted
    Trial(sec,
      if (ms > 0) steady.map(_.rows).sum * 1000.0 / ms else fallbackRows / sec,
      if (durs.isEmpty) (0L, 0L) else (durs(durs.length / 2), durs.last),
      steady.lastOption.fold(0L)(_.stateRows), steady.lastOption.fold(0L)(_.stateMemory),
      steady.map(_.commitMs).sum)
  }

  /** A query's retained progress as per-batch records. */
  private def batchesOf(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.map { p =>
      val ops = p.stateOperators.toSeq
      Batch(p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).fold(0L)(_.toLong),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum)
    }

  /** What a row's start hands the runner: `rate` supplies rows/s,
    * `board` the latency and state (the same query for every row but
    * stream_topk), and `done` returns once the row's input is fully
    * processed. */
  private final case class Started(rate: StreamingQuery, board: StreamingQuery,
      done: () => Unit)

  /** The one row runner: times `start` through `done`, derives the
    * trial's record from the progress of the queries it names, and stops
    * every query the row registered in `live` — also when the trial
    * throws, so a failed trial never leaves a query running into the
    * rest of the pack. */
  private def timed(fallbackRows: Double)(start: ListBuffer[StreamingQuery] => Started): Trial = {
    val live = ListBuffer.empty[StreamingQuery]
    try {
      val t0 = System.nanoTime()
      val s = start(live)
      s.done()
      val sec = (System.nanoTime() - t0) / 1e9
      trialOf(sec, fallbackRows, batchesOf(s.board))
        .copy(rowsPerSec = trialOf(sec, fallbackRows, batchesOf(s.rate)).rowsPerSec)
    } finally live.reverseIterator.foreach(q => try q.stop() catch { case _: Throwable => })
  }

  /** Polls `cond` until it holds, surfacing the QUERY'S OWN failure
    * rather than a timeout that masks it (r14: the first sf0.1 run
    * reported "timed out waiting for first post-restart output" where the
    * restarted query had actually failed at start). */
  private def waitOn(q: StreamingQuery, what: String, maxSec: Int = 300)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + maxSec * 1000000000L
    while (!cond) {
      q.exception.foreach(throw _)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  /** Runs every stream row and returns one [[RowOut]] per row plus the
    * names of rows that FAILED. One broken input table must never zero
    * the whole bench artifact (round-5 verdict: `Tables.events` failing
    * analysis here threw away 84 already-computed batch timings), so each
    * staging step and each row is isolated — a failure records its name
    * and the rest keep running.
    */
  def run(spark: SparkSession, sfDir: String): Out = {
    implicit val ss: SparkSession = spark
    val repeats = Bench.envRepeats
    val failed = ListBuffer.empty[String]
    // GRAFT_STREAM_ONLY="stream_neardup,stream_ann" runs a subset (and
    // skips the staging the unselected rows would have needed) — the
    // iterate-on-one-pipeline loop, mirroring GRAFT_BENCH_ONLY.
    val streamOnly = sys.env.get("GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = streamOnly.forall(_.contains(name))
    // Stream-side shuffle sizing: ~1.5k keys of a few KB each, sized by
    // the MEASURED deployment rule as code — Graft.statePartitionsFor
    // (track key volume, not cores; SCALING.md r13 ladder) — which
    // reproduces the hand-ladder's 16 at this key volume on a 32-core box.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      Graft.statePartitionsFor(BenchKeyVolume, spark.sparkContext.defaultParallelism).toString)
    // Staged multi-GB /tmp dirs, registered AT CREATION so the finally
    // below reclaims them on ANY exit — an uncaught throw mid-setup is
    // swallowed by Bench.run's outer catch and the batch pack would
    // otherwise keep running with shuffle.partitions=16 in the shared
    // session and gigabytes of staging leaking writeback debt into later
    // timed windows.
    val stagedDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
    // Stage (user_id, cents, ts_ns) as a 32-file parquet dir so the file
    // source replays it as micro-batches of 16 parallel file-read tasks.
    // ×80 replication (ts perturbed by the replica index so per-key event
    // times stay unique): 4 micro-batches of ~2M rows each, so the
    // steady-state batches dominate the fixed query-startup + first-batch
    // JIT cost, and the per-batch fixed costs (offset/commit-log fsyncs,
    // state-store commit latency) amortize the way a throughput-tuned
    // deployment would size its triggers.
    val eventRowNames = RowNames.filterNot(
      Set("stream_market_spread_wire", "stream_neardup", "stream_ann"))
    val evStaged: Option[(String, Double)] =
      if (!eventRowNames.exists(wanted)) None
      else try {
        val staged = Files.createTempDirectory("graft_stream_src").toString
        stagedDirs += staged
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), expr("cast(round(value * 100) as bigint)").as("cents"),
            col("ts_ns"))
          .crossJoin(spark.range(80).select(col("id")))
          .select(col("user_id"), col("cents"),
            (col("ts_ns") + col("id")).as("ts_ns"))
        ev.repartition(128).write.mode("overwrite").parquet(staged)
        // Deterministic replay order: FileStreamSource batches files in
        // MODIFICATION-TIME order with an UNSTABLE tie-break (the local
        // FS listing), and a single write job stamps near-identical
        // mtimes — so file→batch assignment could differ between query
        // instances. Throughput rows don't care, but the recovery row's
        // 1-to-1 hash verify does: a key's running mean depends on its
        // rows' batch grouping (within-batch event-time sort), so a
        // restarted chain and the uninterrupted baseline must see the
        // SAME file→batch map (r14: trial 3's verify diverged with equal
        // row counts — order, not duplication). Strictly increasing
        // mtimes in path order make the sort total for everyone. NOTE
        // this fixes the file ORDER only — restart re-planning can still
        // legitimately re-GROUP files into differently-sized batches
        // (observed: a 16-file recovered batch under an 8-file cap),
        // which is why the recovery verify is grouping-insensitive.
        locally {
          val fs = new java.io.File(staged).listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          val base = System.currentTimeMillis() - (fs.length + 1) * 1000L
          fs.zipWithIndex.foreach { case (f, i) =>
            // fail LOUDLY on a refused stamp (ADVICE r14): the recovery
            // gate's whole determinism argument rests on these mtimes —
            // a filesystem that silently ignores setLastModified would
            // re-open the mtime-tie flake with no diagnostic
            require(f.setLastModified(base + i * 1000L),
              s"setLastModified failed on $f — the staged replay's " +
                "file order would be non-deterministic (mtime ties)")
          }
        }
        Some((staged, spark.read.parquet(staged).count().toDouble))
      } catch { case e: Throwable =>
        System.err.println(s"[stream] events staging failed: $e")
        None
      }
    val staged = evStaged.map(_._1).getOrElse("")
    val nRows = evStaged.map(_._2).getOrElse(0.0)

    def source(maxFiles: Int = 32) = ParquetReplaySource[(Long, Long, Long)](
      staged,
      (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2)),
      (r: Row) => r.getLong(2),
      maxFilesPerTrigger = maxFiles)

    // ---- The row start shapes. Each starts its queries inside the
    // runner's timed window and registers them for the runner to stop.
    // One AvailableNow query: drains the staged replay and terminates.
    def availableNow(fallbackRows: Double)(start: => StreamingQuery): Trial =
      timed(fallbackRows) { live =>
        val q = start
        live += q
        Started(q, q, () => q.awaitTermination())
      }
    def drained(p: Pipeline[_]): StreamingQuery = p match {
      case p: Pipeline[t] =>
        p.toSink(EmptySink[t](), trigger = Trigger.AvailableNow()).query.get
    }
    def replayed(p: => Pipeline[_]): Trial = availableNow(nRows)(drained(p))

    // Two stateful stages in one topology: keyed state → durable handoff
    // (`through`, the engine's answer to Spark's one-stateful-stage-per-
    // query limit) → a second keyed stage. Both queries run CONCURRENTLY
    // (the downstream file source tails the handoff while the upstream
    // writes), so the wall time prices the real pipelined chain,
    // contention included. The rate comes from the downstream unless
    // `rateFromUp`; latency and state always from the downstream.
    def chained[U](rateFromUp: Boolean)(up: => Pipeline[U])(
        down: Pipeline[U] => SinkHandle): Trial = {
      val handoff = Files.createTempDirectory("graft_handoff").toString
      // the upstream checkpoints under the handoff dir (underscore-
      // prefixed dirs are invisible to the downstream file source) so
      // one delete covers data + checkpoint; each trial stages the full
      // stream there, which would accumulate in /tmp (ADVICE r4)
      try timed(nRows) { live =>
        val (u, handedOff) = up.through(handoff, Some(s"$handoff/_ckpt"))
        val uq = u.query.get
        live += uq
        val dq = down(handedOff).query.get
        live += dq
        // all input consumed, all handoff files committed; then the
        // chain drained
        Started(if (rateFromUp) uq else dq, dq,
          () => { uq.processAllAvailable(); dq.processAllAvailable() })
      } finally deleteRecursively(new java.io.File(handoff))
    }

    // Near-dup dedup throughput: a TEXT-bearing stream (documents ×200 —
    // every replica is an exact dup, plus the corpus's own near-dups),
    // fingerprinted per row with the fast XXH64 SimHash (same vote
    // topology as the oracle'd portable form; the md5 detour is the
    // oracle tax the production path doesn't pay) into dropDuplicates
    // state. Prices the full streaming near-dedup stage: signature
    // computation + the row shuffle to the state partition + one 8-byte
    // key per distinct signature in the store.
    val docsStagedOpt: Option[(String, Double)] =
      if (!wanted("stream_neardup")) None
      else try {
        val dir = Files.createTempDirectory("graft_stream_docs").toString
        stagedDirs += dir
        val docReps = 200L
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
          .crossJoin(spark.range(docReps).select(col("id")))
          .select(col("doc_id"), col("text"),
            (col("doc_id") * docReps + col("id")).as("ts_ns"))
          .repartition(32).write.mode("overwrite").parquet(dir)
        Some((dir, spark.read.parquet(dir).count().toDouble))
      } catch { case e: Throwable =>
        System.err.println(s"[stream] documents staging failed: $e")
        None
      }
    implicit val docEnc: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    def neardup(docStaged: String) =
      Graft.source("bench-neardup", ParquetReplaySource[(Long, String, Long)](
          docStaged,
          (r: Row) => (r.getLong(0), r.getString(1), r.getLong(2)),
          (r: Row) => r.getLong(2),
          maxFilesPerTrigger = 16))
        .dedupBy(p => java.lang.Long.toHexString(
          graft.functions.SimHash.fastSignature(p._2)))

    // Streaming ANN search over the materialized residual IVF-PQ index
    // (VERDICT r6 #5) — the reference's source → keyed state → sink shape
    // with the CELL as the key: the index leg primes per-cell state (one
    // state row per coarse cell holding that cell's (id, codes) list, the
    // partition-pruned layout p_ann_search materializes to parquet), the
    // probe leg replays per-(query, cell) ADC probes — query_id, cent_id,
    // and Similarity.annProbePayloads' [‖q_res‖², 8×PqK cost tables]
    // bit-packed to the AnnWire uint16 wire format — keyed to the same
    // cells. Each probe scores every stored code word with packed-table
    // extracts + integer adds and emits the cell-local nearest candidate
    // (the "alert over an embedding stream" shape; a deployment's
    // query-side combiner merges the ≤P cell winners per query
    // downstream — bounded, off the hot path).
    // Index rows ride at ts=0 so the per-key within-batch event-time sort
    // seats a cell's codes before any same-batch probe; probes arriving
    // in later micro-batches see state already primed — the live-index
    // at-least-once semantics a streaming ANN actually has.
    val annStagedOpt: Option[(String, String, Double)] =
      if (!wanted("stream_ann")) None
      else try {
        val idxDir = Files.createTempDirectory("graft_stream_annidx").toString
        stagedDirs += idxDir
        val probeDir = Files.createTempDirectory("graft_stream_annprobe").toString
        stagedDirs += probeDir
        // wire contract: the bit-packed AnnWire format on BOTH legs
        // (VERDICT r8 #5) — one code word per index row, 66 packed longs
        // per probe. AnnWire is self-contained (functions must not
        // depend on operators), so pin the constant coupling here where
        // both are visible: a PQ retune that diverges the wire format
        // must fail loudly at staging, not scramble distances.
        require(graft.functions.AnnWire.Tables == graft.operators.Similarity.PqSub &&
          graft.functions.AnnWire.Codes == graft.operators.Similarity.PqK,
          "AnnWire packing constants diverged from the PQ sizing")
        import spark.implicits._
        graft.operators.Similarity.buildIvfPqIndex(spark, sfDir)
          .select(col("cent_id"), col("neighbor_id"),
            array((0 until graft.operators.Similarity.PqSub)
            .map(m => col(s"code_$m").cast("int")): _*).as("codes"))
          .as[(Long, Long, Seq[Int])]
          .map { case (cent, id, codes) =>
            (0L, cent, id, Array(graft.functions.AnnWire.packCodes(codes.toArray)), 0L) }
          .toDF("kind", "cent_id", "id", "payload", "ts_ns")
          .repartition(AnnIndexLegMaxFiles).write.mode("overwrite").parquet(idxDir)
        // State-priming invariant (ADVICE r7): index rows ride at ts=0 and
        // must ALL land in the index leg's FIRST micro-batch — the leg's
        // maxFilesPerTrigger (4, the ann pipeline below) must admit every file the
        // repartition(4) above produced, or a later index batch races
        // same-batch probes. Assert the coupling instead of trusting it.
        val idxFiles = new java.io.File(idxDir).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
        // both bounds (ADVICE r9): 0 matches would mean a committer/codec
        // layout drift changed the data-file suffix and the guard was
        // counting nothing — fail the staging check, don't pass vacuously
        require(idxFiles > 0,
          s"index staging wrote no *.parquet data files under $idxDir — " +
            "writer layout drifted; the micro-batch coupling guard can't count")
        require(idxFiles <= AnnIndexLegMaxFiles,
          s"index staging produced $idxFiles files > maxFilesPerTrigger=$AnnIndexLegMaxFiles; " +
            "index rows would straddle micro-batches and race probes")
        // replicate the 20 queries' probe rows with distinct query ids —
        // same vectors, so staging stays cheap while probe volume is real
        val probeReps = 2000L
        graft.operators.Similarity.annProbePayloads(spark, sfDir)
          .select(col("query_id"), col("cent_id"), col("payload"))
          .as[(Long, Long, Seq[Double])]
          .map { case (q, cent, pl) =>
            (cent, q, graft.functions.AnnWire.packProbe(pl.head, pl.drop(1).toArray)) }
          .toDF("cent_id", "query_id", "payload")
          .crossJoin(spark.range(probeReps).select(col("id").as("rep")))
          .select(lit(1L).as("kind"), col("cent_id"),
            (col("query_id") + col("rep") * 1000000L).as("id"), col("payload"),
            (lit(1000000000000000L) + col("rep")).as("ts_ns"))
          .repartition(64).write.mode("overwrite").parquet(probeDir)
        val n = spark.read.parquet(idxDir).count() +
          spark.read.parquet(probeDir).count()
        Some((idxDir, probeDir, n.toDouble))
      } catch { case e: Throwable =>
        System.err.println(s"[stream] ann staging failed: $e")
        None
      }
    implicit val annEnc: Encoder[(Long, Long, Long, Array[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def ann(idxDir: String, probeDir: String) = {
      def leg(dir: String, maxFiles: Int) =
        ParquetReplaySource[(Long, Long, Long, Array[Long])](
          dir,
          (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getSeq[Long](3).toArray),
          (r: Row) => r.getLong(4),
          maxFilesPerTrigger = maxFiles)
      Graft.source("bench-ann-index", leg(idxDir, AnnIndexLegMaxFiles))
        .merge(Graft.source("bench-ann-probes", leg(probeDir, 16)))
        .keyBy(_._2.toString)
        .to(AnnCellProbe)(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    }

    // Count windows and ephemeral windows — the two window families the
    // pack didn't yet price (tumbling/sliding ride the `sliding` row).
    // Count windows flush every N messages per key (cheap state: one
    // accumulator per key); ephemeral windows open per key, trigger on
    // the event-time watermark, and drop their state — the session-burst
    // shape (core/windows/ephemeral_window.pony).
    def countwin() =
      Graft.source("bench-countwin", source())
        .keyBy(_._1.toString)
        .to(Graft.countWindows(PipelineQueries.CountWindowSize)
          .over(PipelineQueries.WindowCents))(
          Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
    def ephemeral() =
      Graft.source("bench-ephemeral", source())
        .keyBy(_._1.toString)
        .to(Graft.ephemeralWindows(3600L * 1000000000L, 1800L * 1000000000L)
          .over(PipelineQueries.WindowCents))(
          Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))

    // Spark-native session windows over the same replayed stream — the
    // streaming half of q_events_session_native's scale claim priced at
    // volume (SessionWindowStreamSpec proves the cross-batch merge
    // semantics; this row prices it). The replay is file-order, i.e.
    // heavily out-of-order in event time, so the watermark delay is set
    // beyond the stream's span — every row reaches the state store and
    // the row measures true session-merge throughput, not a
    // drop-most-rows fast path. State = one row per open session.
    // staged-events schema read ONCE per run (a batch footer-inference
    // read) — not inside every session trial's timed window, where it
    // added fixed plan-time I/O to exactly the rows the provider A/B
    // compares
    lazy val stagedEventsSchema = spark.read.parquet(staged).schema
    def session(): StreamingQuery =
      spark.readStream.schema(stagedEventsSchema)
        .option("maxFilesPerTrigger", 32).parquet(staged)
        .select(col("user_id"),
          org.apache.spark.sql.functions.timestamp_micros(expr("ts_ns div 1000")).as("ts"),
          col("cents"))
        .withWatermark("ts", "3650 days")
        .groupBy(org.apache.spark.sql.functions.session_window(col("ts"), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        .writeStream.format("noop").outputMode("append")
        .trigger(Trigger.AvailableNow()).start()

    // Between-trials teardown (the stream analogue of the batch pack's
    // clearCache + GC): every stopped query leaves its state-store
    // providers CACHED in the executor (HDFS-backed loadedMaps,
    // RocksDB native handles + column families) — across 14 rows × R
    // trials that accumulation periodically erupted as one ~40 s
    // trial (three full r10 runs each showed exactly one, on a
    // varying round, while row-only reruns never did). Unloading the
    // providers and collecting now puts the cost OUTSIDE the timed
    // windows; the next query transparently reloads its own stores.
    // The blocking sync flushes dirty pages NOW, not under a later
    // trial's commit path: the batch pack and each trial's
    // checkpoint/state writes leave GBs of writeback debt on /tmp, and
    // the kernel was repaying it mid-trial — the wedged full-run
    // artifacts show the shape exactly (trial-1 commit_ms of 112 s on
    // the wire row and 75 s on session against 3–5 s in the other
    // trials, CPU calibration flat). Defined here (not at the trial
    // loop) because the recovery trial below also calls it between its
    // kill and restart phases — the cold-restart cost model.
    def teardown(): Unit = {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
      syncFs()
    }

    // ---- stream_recovery (VERDICT r12 #2, deepened r13 #4 to the
    // master-crasher shape): the reference's crash/recover torture priced
    // as a bench row (testing/correctness/scripts/effectively-once/
    // master-crasher.sh kills workers REPEATEDLY at random points,
    // including mid-commit; 1-to-1-passthrough-verify.sh asserts
    // received == sent exactly-once; checkpoint semantics
    // core/checkpoint/checkpoint_initiator.pony:39-110). Spark analogue
    // in one JVM: a keyed-state query (SpreadEnrich — one state row per
    // user; RocksDB provider with changelog checkpointing) writing the
    // manifest-committed parquet file sink is stopped ABRUPTLY mid-batch
    // N≥3 times per trial at SEEDED-random batch offsets (each attempt
    // commits 1-2 more data batches plus a random intra-batch sleep, so
    // the stop lands at varied offsets inside the in-flight batch — its
    // offsets are already in the WAL, the commit-log entry is not, so
    // every restart must reload the last committed state version, replay
    // the RocksDB changelog, and re-execute the in-flight batch).
    // teardown() between attempts evicts the cached state-store
    // providers + flushes dirty pages, so each restart pays the COLD
    // recovery cost a process kill would. The replay runs at 8 files/
    // trigger (~16 data batches — the single-kill r13 row ran 32/4,
    // whose walls are therefore not directly comparable) so three kills
    // plus their overshoot always leave real catch-up work. Published per trial: the kill schedule
    // (seeded, logged), time-to-first-output after the LAST restart,
    // catch-up wall (the row's headline), the uninterrupted baseline
    // wall, and the 1-to-1 DELIVERY verify over both sinks'
    // manifest-committed output (see hashOf below) — deliberately
    // insensitive to per-key prefix GROUPING, because Spark may re-plan
    // batch composition across a restart (observed and forensically
    // pinned this round: a recovered first batch of 16 files under an
    // 8-file cap) — a property neither Spark nor the reference
    // contracts, and which the reference's own 1-to-1 passthrough
    // verify likewise ignores. The trial THROWS on mismatch — the row
    // goes to `failed` in the artifact rather than publishing a wall
    // for a broken recovery.
    // Set/restore session confs around a block — used by every per-trial
    // conf override AND the recovery trial's rescale probe (defined here,
    // above both, so neither needs a forward reference over a val).
    def withConfs[T](confs: Seq[(String, String)])(body: => T): T =
      if (confs.isEmpty) body
      else {
        val prev = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
        confs.foreach { case (key, v) => spark.conf.set(key, v) }
        try body finally prev.foreach {
          case (key, Some(v)) => spark.conf.set(key, v)
          case (key, None)    => spark.conf.unset(key)
        }
      }

    val recoveryLog = scala.collection.mutable.ArrayBuffer.empty[JValue]
    val rescaleLog = scala.collection.mutable.ArrayBuffer.empty[JValue]
    // Kill schedule: RecoveryKills abrupt stops per trial; the trial's
    // seed is RecoverySeed + the trial index, logged as-is so a schedule
    // replays from the artifact alone.
    val RecoveryKills = 3
    val RecoverySeed = 14L
    // Order-insensitive hash over the given columns of a sink's
    // manifest-committed output, with its row count. The decimal sum
    // dodges ANSI Long-sum overflow.
    def hashOf(dir: String, cols: Seq[String]): (Long, BigDecimal) = {
      val r = spark.read.parquet(dir).selectExpr("count(*)",
        s"sum(cast(xxhash64(struct(${cols.mkString(", ")})) as decimal(38,0)))").head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    // The 1-to-1 verify: an order-insensitive DELIVERY hash over the
    // passthrough columns (user, cents, event ts) — any lost,
    // duplicated, or corrupted row diverges. This is EXACTLY the
    // reference's own gate (testing/correctness/scripts/
    // effectively-once/1-to-1-passthrough-verify.sh: received ==
    // sent as multisets), and deliberately NOT more: r14 forensics
    // proved Spark may legitimately RE-GROUP batch composition
    // across a restart (a recovered first batch planned 16 files
    // under an 8-file maxFilesPerTrigger), which shifts every key's
    // prefix grouping — so ANY output value derived from a running
    // prefix (the full-row hash's running mean; even "the mean on
    // the key's max-ts row", since the max-ts row of this
    // out-of-order replay sits mid-stream) diverges on a correct
    // recovery. Both broken proxies were observed failing with the
    // delivery hash EQUAL — exactly-once delivery held in every
    // kill trial this round. Batch reads respect each sink's
    // _spark_metadata manifest, so files from a killed attempt's
    // uncommitted batch are invisible — exactly the mechanism under
    // certification.
    val DeliveryCols = Seq("_1._1", "_1._2", "_2")
    // the full row, including the state-derived running mean (_1._3)
    val FullCols = Seq("_1._1", "_1._2", "_1._3", "_2")
    def recoveryTrial(): Trial = {
      val root = Files.createTempDirectory("graft_recovery").toString
      try {
        // the latest query started per sink, for the mismatch forensics
        val latest = scala.collection.mutable.Map.empty[String, StreamingQuery]
        def start(out: String, ckpt: String): StreamingQuery = {
          val q = Graft.source("bench-recovery", source(maxFiles = 8))
            .keyBy(_._1.toString)
            .to(SpreadEnrich)(long3Enc)
            .through(out, Some(ckpt))._1.query.get
          latest(out) = q
          q
        }
        // one query from the sink's checkpoint, straight to drained
        def straight(out: String, ckpt: String): Trial = timed(nRows) { live =>
          val q = start(out, ckpt)
          live += q
          Started(q, q, () => q.processAllAvailable())
        }
        val killedOut = s"$root/killed"; val killedCkpt = s"$root/killed_ckpt"
        val baseOut = s"$root/baseline"; val baseCkpt = s"$root/baseline_ckpt"
        // Phase 1 — the master-crasher loop: RecoveryKills abrupt stops,
        // each after a seeded-random number of committed data batches + a
        // seeded intra-batch sleep. TWO guards keep the schedule from
        // consuming the whole replay before the timed recovery (a fully
        // drained checkpoint restarts into silence — no batch runs, no
        // progress events, and the TTFO wait can only time out; trial 3
        // / seed 16 of the first r14 sf0.1 run hit exactly that):
        // a batch BUDGET — killing stops once the attempts' committed
        // batches (replays counted, so the budget errs conservative)
        // reach totalBatches - 4 (the loop guard below; 4 batches of
        // slack because an attempt can overshoot its target by a commit
        // or two) — and the empty-batch `exhausted` flag,
        // which also degrades phase 2 to a drain-only measurement
        // (TTFO = 0, marked in the log) instead of a wait that can hang.
        val seed = RecoverySeed + recoveryLog.size
        val rng = new scala.util.Random(seed)
        val killLog = scala.collection.mutable.ArrayBuffer.empty[JValue]
        val nStagedFiles = new java.io.File(staged).listFiles()
          .count(_.getName.endsWith(".parquet"))
        val totalBatches = math.ceil(nStagedFiles / 8.0).toLong
        var exhausted = false
        var preKillBatches = 0L; var preKillRows = 0L
        // an attempt can overshoot its target by a commit or two (the
        // intra-batch sleep, the stop's own drain), so the budget leaves
        // 4 batches of slack — at 8-file triggers (~16 batches) three
        // kills always fit AND the recovery always has real work
        for (k <- 1 to RecoveryKills
             if !exhausted && preKillBatches < totalBatches - 4) {
          val victim = start(killedOut, killedCkpt)
          val targetBatches = 1 + rng.nextInt(2)
          val sleepMs = rng.nextInt(400).toLong
          try {
            waitOn(victim, s"kill $k: $targetBatches committed batches") {
              val ps = victim.recentProgress
              exhausted = ps.exists(_.numInputRows == 0)
              exhausted || ps.count(_.numInputRows > 0) >= targetBatches
            }
            Thread.sleep(sleepMs) // land the stop at a varied in-flight offset
            val ps = victim.recentProgress.filter(_.numInputRows > 0)
            preKillBatches += ps.length
            preKillRows += ps.map(_.numInputRows).sum
            System.err.println(s"[stream] stream_recovery trial " +
              s"${recoveryLog.size + 1} kill $k: target=$targetBatches " +
              s"committed=${ps.length} cumulative=$preKillBatches/" +
              s"$totalBatches exhausted=$exhausted")
            killLog += JObject("kill" -> JInt(k), "target_batches" -> JInt(targetBatches),
              "sleep_ms" -> JInt(sleepMs), "batches_this_attempt" -> JInt(ps.length),
              "exhausted" -> JBool(exhausted))
          } finally (try victim.stop() catch { case _: Throwable => })
          teardown() // cold restart: provider caches evicted, writeback flushed
        }
        // Phase 2 — the timed recovery: the restart after the LAST kill,
        // from the same checkpoint into the same sink, to first output
        // and to fully drained. An exhausted schedule (source fully
        // drained before the last kill — visible in the kill log) may
        // restart into a query with NOTHING to run: no batch, no progress
        // events — so the TTFO wait is skipped entirely (firstSec stays
        // 0, a visibly degenerate reading) and the drain is the
        // measurement.
        var firstSec = 0.0
        val catchup = timed(nRows) { live =>
          val t1 = System.nanoTime()
          val re = start(killedOut, killedCkpt)
          live += re
          Started(re, re, () => {
            if (!exhausted) {
              waitOn(re, "first post-restart output")(
                re.recentProgress.exists(_.numInputRows > 0))
              firstSec = (System.nanoTime() - t1) / 1e9
            }
            re.processAllAvailable()
          })
        }
        teardown()
        // Phase 3 — the uninterrupted baseline: same topology, same
        // provider, same trigger sizing, fresh dirs, straight through.
        val baselineSec = straight(baseOut, baseCkpt).sec
        // Phase 4 — the 1-to-1 verify across the whole kill schedule.
        val (nRec, hRec) = hashOf(killedOut, DeliveryCols)
        val (nBase, hBase) = hashOf(baseOut, DeliveryCols)
        val hashEqual = nRec == nBase && hRec == hBase
        // Mismatch forensics (r14: a pack-context trial diverged with
        // EQUAL row counts — the decisive question is per-user counts/
        // sums, which separate duplication from order): print per-user
        // aggregate diffs, the first divergent (user, ts) rows, and both
        // chains' batch compositions, all BEFORE the throw, so the
        // artifact's stderr pinpoints the class of failure.
        if (!hashEqual) {
          def perUser(dir: String) = spark.read.parquet(dir)
            .selectExpr("_1._1 as user", "_1._2 as cents", "_1._3 as mean", "_2 as ts")
            .groupBy("user")
            .agg(expr("count(*) as n"), expr("sum(cents) as sc"),
              expr("sum(mean) as sm"))
          val a = perUser(killedOut).withColumnRenamed("n", "n_a")
            .withColumnRenamed("sc", "sc_a").withColumnRenamed("sm", "sm_a")
          val b = perUser(baseOut).withColumnRenamed("n", "n_b")
            .withColumnRenamed("sc", "sc_b").withColumnRenamed("sm", "sm_b")
          val diff = a.join(b, "user")
            .filter("n_a != n_b or sc_a != sc_b or sm_a != sm_b")
          val sample = diff.orderBy("user").limit(3).collect()
          System.err.println(s"[stream] recovery verify MISMATCH: " +
            s"${diff.count()} users differ; first: ${sample.mkString(" | ")}")
          sample.headOption.foreach { r0 =>
            val u = r0.getLong(0)
            def rowsOf(dir: String, tag: String) = spark.read.parquet(dir)
              .selectExpr("_1._1 as user", "_1._2 as cents",
                s"_1._3 as mean_$tag", "_2 as ts")
              .filter(s"user = $u")
            val firstDiv = rowsOf(killedOut, "rec").join(
                rowsOf(baseOut, "base").drop("user", "cents"), Seq("ts"))
              .filter("mean_rec != mean_base").orderBy("ts").limit(3).collect()
            System.err.println(s"[stream] recovery verify user $u first " +
              s"divergent rows: ${firstDiv.mkString(" | ")}")
          }
          for ((tag, out) <- Seq("recovered(last attempt)" -> killedOut, "baseline" -> baseOut))
            System.err.println(s"[stream] recovery $tag batches: " +
              latest(out).recentProgress.map(p => s"${p.batchId}:${p.numInputRows}").mkString(","))
        }
        // Phase 5 — TRUE double-apply detection (VERDICT r14 next #2,
        // closing the delivery hash's designed blind spot: a replayed row
        // APPLIED to state twice but emitted once passes the multiset
        // verify). Read the final committed keyed state of BOTH chains
        // from their checkpoints via Spark's state-store reader and
        // compare the DECODED per-key user state — (sum, n) per user is
        // order- AND grouping-free, so the comparison is immune to the
        // restart re-grouping class the r14 forensics pinned (unlike the
        // raw kryo blob, whose outputWm legitimately moves with batch
        // composition — StateIntrospection's scaladoc). ~1.5 K keys:
        // driver-bounded by construction.
        def spreadStateOf(ckpt: String): Map[String, (Long, Long)] =
          StateIntrospection.keyedComputationState(spark, ckpt).map {
            case (k, st: SpreadState) => k -> ((st.sum, st.n))
            case (k, other) => throw new IllegalStateException(
              s"key $k holds ${other.getClass}, expected SpreadState")
          }.toMap
        val stRec = spreadStateOf(killedCkpt)
        val stBase = spreadStateOf(baseCkpt)
        val stateEqual = stRec == stBase
        if (!stateEqual) {
          val keys = (stRec.keySet ++ stBase.keySet).toSeq.sorted
          val diffs = keys.filter(k => stRec.get(k) != stBase.get(k))
          System.err.println(s"[stream] recovery STATE MISMATCH: " +
            s"${diffs.size} of ${keys.size} keys differ; first: " +
            diffs.take(3).map(k => s"$k rec=${stRec.get(k)} base=${stBase.get(k)}")
              .mkString(" | "))
        }
        recoveryLog += JObject("trial" -> JInt(recoveryLog.size + 1), "seed" -> JInt(seed),
          "n_kills" -> JInt(killLog.size), "kills" -> JArray(killLog.toList),
          "pre_kill_batches" -> JInt(preKillBatches), "pre_kill_rows" -> JInt(preKillRows),
          "time_to_first_output_sec" -> JDouble(firstSec), "catchup_sec" -> JDouble(catchup.sec),
          "baseline_wall_sec" -> JDouble(baselineSec), "rows_out_recovered" -> JInt(nRec),
          "rows_out_baseline" -> JInt(nBase), "hash_equal" -> JBool(hashEqual),
          "state_keys" -> JInt(stRec.size), "state_hash_equal" -> JBool(stateEqual))
        require(hashEqual, s"stream_recovery: recovered output diverged from " +
          s"the uninterrupted run (rows $nRec vs $nBase, delivery hash $hRec " +
          s"vs $hBase) — exactly-once delivery violated across " +
          s"${killLog.size} kills")
        require(stateEqual, s"stream_recovery: recovered final STATE diverged " +
          s"from the uninterrupted run (${stRec.size} vs ${stBase.size} keys) " +
          s"with delivery hash EQUAL — a double-apply (state mutated twice, " +
          s"emitted once) across ${killLog.size} kills")
        // ---- Rescale pricing (VERDICT r13 #4, second half; once per
        // run, on the first trial): live key migration is impossible on
        // a running query (RescaleSpec pins the restriction) — the
        // mitigation is replayable source + FRESH checkpoint at the new
        // parallelism (core/autoscale/autoscale.pony:37-110 is the
        // reference's live form). This prices it: the rebuild wall at 2×
        // state partitions is what the 16→32 rescale costs when key
        // volume outgrows the narrow end of Graft.statePartitionsFor.
        // The rebuilt output must equal the baseline on the FULL row —
        // including the state-derived running mean (_1._3), the one value
        // a partitioning-sensitive bug could corrupt (ADVICE r14: the
        // delivery hash excludes it, so it cannot certify what this probe
        // claims). Unlike the restart case, both chains here are fresh
        // same-trigger replays over the deterministically-ordered staging
        // (strictly increasing mtimes), so batch composition — and hence
        // every key's prefix — is identical and the full-row hash is
        // stable; only the shuffle width differs, which must not change
        // any answer.
        if (rescaleLog.isEmpty) {
          val from = spark.conf.get("spark.sql.shuffle.partitions").toInt
          val to = from * 2
          val rsOut = s"$root/rescale"; val rsCkpt = s"$root/rescale_ckpt"
          teardown()
          val rebuildSec = withConfs(Seq("spark.sql.shuffle.partitions" -> to.toString))(
            straight(rsOut, rsCkpt)).sec
          val (nRs, hRs) = hashOf(rsOut, DeliveryCols)
          val (nRsF, hRsF) = hashOf(rsOut, FullCols)
          val (nBaseF, hBaseF) = hashOf(baseOut, FullCols)
          val fullEqual = nRsF == nBaseF && hRsF == hBaseF
          rescaleLog += JObject("from_partitions" -> JInt(from), "to_partitions" -> JInt(to),
            "rebuild_wall_sec" -> JDouble(rebuildSec), "baseline_wall_sec" -> JDouble(baselineSec),
            "rows_out" -> JInt(nRs),
            "hash_equal_baseline" -> JBool(nRs == nBase && hRs == hBase),
            "full_hash_equal_baseline" -> JBool(fullEqual))
          require(fullEqual, s"stream_rescale: rebuilt output at $to partitions " +
            s"diverged from the $from-partition baseline on the FULL row " +
            s"(rows $nRsF vs $nBaseF) — a partitioning-sensitive state bug")
        }
        catchup
      } finally deleteRecursively(new java.io.File(root))
    }

    def statecomp() =
      Graft.source("bench-statecomp", source())
        .keyBy(_._1.toString)
        .to(SpreadCheck)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

    // The full market-spread topology (p_market_spread's shape, the
    // reference's published-number demo): TWO concurrent file sources —
    // the quote leg and the order leg, each replaying the staged events —
    // merged into one keyed flow whose per-key state the quote leg writes
    // and the order leg reads. numInputRows counts BOTH legs, so the
    // sustained rate is the merged ingest volume, directly comparable to
    // the reference's ~1.5 M msgs/s market-spread figure (BASELINE.md).
    // Order events ride 1 ns behind their quote twin so the per-key
    // within-batch event-time sort interleaves the legs deterministically.
    val spreadOutEnc: Encoder[(Long, Long, Long, Long, Boolean)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaBoolean)
    implicit val long5Enc: Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
    // 16 files/leg/trigger: the union source admits each leg's quota per
    // micro-batch, so 16+16 holds rows-per-batch equal to the
    // single-source rows at 32 — same state-commit cadence, comparable
    // sustained-rate estimate.
    def spreadLeg(kind: Long) = ParquetReplaySource[(Long, Long, Long, Long, Long)](
      staged,
      (r: Row) => (kind, r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(2) + kind),
      (r: Row) => r.getLong(2) + kind,
      maxFilesPerTrigger = 16)
    def marketSpread() =
      Graft.source("bench-ms-quotes", spreadLeg(0L))
        .merge(Graft.source("bench-ms-orders", spreadLeg(1L)))
        .keyBy(_._3.toString)
        .to(graft.operators.PipelineQueries.MarketCheck)(spreadOutEnc)

    // ---- stream_market_spread_wire (VERDICT r9 #3): the SAME merge →
    // key_by → state topology as stream_market_spread, but both legs fed
    // through REAL localhost framed TCP sockets with decode in-path —
    // the like-for-like answer to BASELINE.md's network-fed 1.5 M msgs/s
    // figure (the reference measures with a giles sender pushing framed
    // bytes over TCP; the parquet-replay row measures the same topology
    // minus the wire). The frame log is pre-encoded driver-side — the
    // external-producer role; giles/sender likewise holds its whole
    // file in memory — and each leg's server writes it to the one
    // connection the DSv2 socket source opens. Frames are ×20 copies
    // of the events table (~2 M frames/leg at sf0.1, 4 M
    // merged rows — enough for steady-state batches without holding
    // hundreds of MB of frames).
    // Each leg runs the source's default parallel plan (one partition
    // per chunk slice) over N connections, each carrying a USER-HASH
    // shard, merged into the one keyed flow. What holds is per-key
    // order per socket: the per-key within-batch event-time sort absorbs
    // the interleave across partitions and sockets (the same disorder
    // the 16-file parquet replay has), cross-partition ties included,
    // since these rows' event times are unique per key.
    val WireShards = 4
    // Each shard is staged as PRE-FRAMED ~4 MB slabs plus its frame
    // count. The reference's giles sender blasts a pre-encoded file from
    // its own machine; a per-frame writeInt/write sender (the first form
    // of this rig) spends 5 calls per 24-byte frame — 20 M+ calls across
    // 8 threads, all stolen from the SAME JVM the engine runs in — so
    // slab staging both matches the reference's sender shape and stops
    // the measurement taxing itself.
    val wireFramesOpt: Option[Array[(Array[Array[Byte]], Long)]] =
      if (!wanted("stream_market_spread_wire")) None
      else try {
        val reps = 20
        val rows = Tables.events(spark, sfDir)
          .select(col("user_id"), expr("cast(round(value * 100) as bigint)").as("cents"),
            col("ts_ns"))
          .crossJoin(spark.range(reps.toLong).select(col("id")))
          .select(col("user_id"), col("cents"), (col("ts_ns") + col("id")).as("ts_ns"))
          .collect()
        val SlabBytes = 4 << 20
        val bufs = Array.fill(WireShards)(
          new java.io.ByteArrayOutputStream(SlabBytes + 64))
        val slabs = Array.fill(WireShards)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Byte]])
        val counts = new Array[Long](WireShards)
        rows.foreach { r =>
          val i = math.floorMod(r.getLong(0), WireShards.toLong).toInt
          val payload = java.nio.ByteBuffer.allocate(24)
            .putLong(r.getLong(0)).putLong(r.getLong(1)).putLong(r.getLong(2)).array()
          Framing.write(bufs(i), payload)
          counts(i) += 1
          if (bufs(i).size() >= SlabBytes) { slabs(i) += bufs(i).toByteArray; bufs(i).reset() }
        }
        for (i <- 0 until WireShards if bufs(i).size() > 0)
          slabs(i) += bufs(i).toByteArray
        Some(Array.tabulate(WireShards)(i => (slabs(i).toArray, counts(i))))
      } catch { case e: Throwable =>
        System.err.println(s"[stream] wire frame staging failed: $e")
        None
      }
    def wireTrial(shards: Array[(Array[Array[Byte]], Long)]): Trial = {
      def serveAll(slabs: Array[Array[Byte]]): java.net.ServerSocket = {
        val ss = new java.net.ServerSocket(0)
        val t = new Thread("bench-msw-server") {
          override def run(): Unit =
            try {
              val conn = ss.accept()
              val out = conn.getOutputStream
              var i = 0
              while (i < slabs.length) { out.write(slabs(i)); i += 1 }
              out.flush(); conn.close()
            } catch { case _: java.io.IOException => } // trial torn down
        }
        t.setDaemon(true); t.start(); ss
      }
      // one server per (leg, shard): the quote leg (kind 0), then the
      // order leg (kind 1)
      val servers = for ((leg, kind) <- Seq("quotes" -> 0L, "orders" -> 1L);
                         ((slabs, _), i) <- shards.toSeq.zipWithIndex)
        yield (s"bench-msw-$leg-$i", kind, serveAll(slabs))
      val expected = 2L * shards.map(_._2).sum
      try timed(expected.toDouble) { live =>
        // Bounded triggers: ~1 M merged rows per micro-batch — eight
        // steady batches per 4 M-row trial. The r16 ladder measured the
        // per-batch economics precisely (adjacent-run pairs, inline
        // decode): 131072 → 756 K-978 K rows/s, 262144 → 1.087-1.21 M
        // (the ~180 ms fixed micro-batch overhead — offset WAL +
        // 8-source planning + commit log — amortizing), 524288 → the
        // all-buffered mega-batch cliff (7.8/15.1/23.1 s trials). A
        // long-running DEPLOYMENT should therefore size triggers near
        // 2 M rows; the BENCH keeps 1 M because at this trial volume
        // the 2× shape leaves only ~2 steady batches and the sustained
        // estimator (rows/Σtrigger-time, batch 0 excluded) turns
        // bimodal on the batch-composition lottery — observed medians
        // swung 350 K-1.45 M on one build — while any in-batch IO
        // stall owns the whole trial instead of one-eighth of it
        // (r16 run 2: one 17.8 s batch execution, commit_ms clean).
        // Doubling the trial volume instead (reps 40) doubles state-
        // commit IO and tripped this box's stall windows nearly every
        // trial — rejected. 1 M batches also keep the row comparable
        // to the whole r13-r15 series the band/bar were pinned on.
        val perTrigger = 131072L
        val q = servers.map { case (name, kind, srv) =>
            Graft.source(name, FramedSocketSource("127.0.0.1", srv.getLocalPort,
              SpreadWireDecoder(kind), maxFramesPerTrigger = perTrigger))
          }.reduce(_ merge _)
          .keyBy(_._3.toString)
          .to(PipelineQueries.MarketCheck)(spreadOutEnc)
          .toSink(EmptySink()).query.get
        live += q
        // A socket is not AvailableNow-complete at start (frames arrive
        // while the query runs), so ProcessingTime(0) micro-batches run
        // until both legs' full logs have been PROCESSED. Each leg's
        // offset is a FrameCount and SpreadWireDecoder drops nothing, so
        // the legs' end offsets in the query's last progress sum to the
        // rows it has processed — read from this query only, never from
        // a stopped prior trial's stragglers.
        def processed: Long = Option(q.lastProgress).fold(0L)(
          _.sources.map(s => Option(s.endOffset).fold(0L)(_.toLong)).sum)
        Started(q, q, () => waitOn(q, s"the wire legs' $expected rows", 600)(
          processed >= expected))
      } finally servers.foreach { case (_, _, s) =>
        try s.close() catch { case _: java.io.IOException => } }
    }
    def sliding() =
      Graft.source("bench-sliding", source())
        .keyBy(_._1.toString)
        .to(Graft.rangeWindows(1800L * 1000000000L).withSlide(600L * 1000000000L)
          .over(PipelineQueries.WindowCents))(
          Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))

    // Row registry: (name, provider label, per-trial session confs, trial
    // thunk). Confs are set/restored around EACH trial (_rocksdb rows
    // interleave with default-provider rows).
    val rowDefs = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Seq[(String, String)], () => Trial)]
    def register(name: String, provider: String,
        confs: Seq[(String, String)] = Nil)(runTrial: () => Trial): Unit = {
      require(RowNames.contains(name), s"$name is missing from StreamBench.RowNames")
      if (wanted(name)) rowDefs += ((name, provider, confs, runTrial))
    }
    // Provider label per row (ADVICE r3): host+provider, so the published
    // JSON shows which rows price the store. The session rows ride Spark's
    // native session_window aggregation, not the graft keyed host.
    val baseProvider = "fmgws+hdfs"

    // An events/documents staging failure skips that table's pipelines —
    // each is recorded individually in `failed` so the JSON shows exactly
    // which rows are missing and why the bench is partial.
    if (evStaged.isDefined) {
      register("stream_stateless", baseProvider)(() => replayed(
        Graft.source("bench-stateless", source())
          .filter(_._2 >= 100)
          .map(e => (e._1, e._2 * 2, e._3))))
      register("stream_statecomp", baseProvider)(() => replayed(statecomp()))
      register("stream_market_spread", baseProvider)(() => replayed(marketSpread()))
      register("stream_sliding", baseProvider)(() => replayed(sliding()))
      register("stream_countwin", baseProvider)(() => replayed(countwin()))
      register("stream_ephemeral", baseProvider)(() => replayed(ephemeral()))
      // Stage 1 is row-preserving (SpreadEnrich) so the downstream's
      // numInputRows is the full stream, not a trickle of alerts; stage 2
      // is keyed sliding windows.
      register("stream_two_stage", baseProvider)(() =>
        chained(rateFromUp = false)(
          Graft.source("bench-two-stage", source())
            .keyBy(_._1.toString)
            .to(SpreadEnrich)(long3Enc))(
          _.keyBy(_._1.toString)
            .to(Graft.rangeWindows(1800L * 1000000000L).withSlide(600L * 1000000000L)
              .over(PipelineQueries.WindowCents))(
              Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
            .toSink(EmptySink())))
      // The windowed leaderboard (p_topk's chain priced as a stream):
      // stateless hour/type assignment → (hour,type)-keyed count-window
      // partial counts → durable handoff → per-hour global-window board.
      // Two stateful stages can't share one streaming query (Spark's
      // global-watermark correctness check), so the chain runs as the same
      // concurrent two-query topology as stream_two_stage. user_id % 100
      // stands in for the type label — the demo's bounded-cardinality key —
      // so the board map stays |types|-sized while the keyed count stage
      // carries the full row volume and hands ceil(n/50)-compressed partial
      // counts downstream. The rate comes from the UPSTREAM (input-volume)
      // query so the row is comparable to the other stream_* rows.
      register("stream_topk", baseProvider)(() =>
        chained(rateFromUp = true)(
          Graft.source("bench-topk", source())
            .to(BenchHourType)(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
            .keyBy(ht => s"${ht._1}|${ht._2}")
            .to(Graft.countWindows(PipelineQueries.TopkPartialN)
              .over(PipelineQueries.TypePartialCount))(
              Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)))(
          _.keyBy(_._1.toString)
            .toGlobalWindow(PipelineQueries.LeaderBoard)(
              Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING))
            .toSink(EmptySink())))
      register("stream_session", "native+hdfs")(() => availableNow(nRows)(session()))
    } else failed ++= eventRowNames.filter(wanted)
    // the wire row stages its own frame log (no dependence on evStaged)
    wireFramesOpt match {
      case Some(frames) =>
        register("stream_market_spread_wire", baseProvider)(() => wireTrial(frames))
      case None =>
        if (wanted("stream_market_spread_wire")) failed += "stream_market_spread_wire"
    }
    docsStagedOpt match {
      case Some((dir, n)) =>
        register("stream_neardup", baseProvider)(() => availableNow(n)(drained(neardup(dir))))
      case None => if (wanted("stream_neardup")) failed += "stream_neardup"
    }
    annStagedOpt match {
      case Some((idxDir, probeDir, n)) =>
        register("stream_ann", baseProvider)(() =>
          availableNow(n)(drained(ann(idxDir, probeDir))))
      case None => if (wanted("stream_ann")) failed += "stream_ann"
    }

    // RocksDB variants of the two DEEPEST-state rows (VERDICT r10 #4):
    // the 100 TB deployment story lives on RocksDB (changelog
    // checkpointing keeps the per-batch commit an append, not a full SST
    // upload). These rows differ from their base rows ONLY in the store
    // provider (same host — native session_window aggregation for
    // session, the fmgws keyed host for market_spread — same topology,
    // same replay), so base vs _rocksdb prices the provider at equal
    // topology: stream_session carries the widest live-key state in the
    // pack (one session window per user) and stream_market_spread the
    // full keyed reject topology. The crash/recover row runs the same
    // provider per trial (the deployment recovery path). A staging
    // failure is already marked by the eventRowNames fallback.
    val rocksConfs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    if (evStaged.isDefined) {
      register("stream_session_rocksdb", "native+rocksdb", rocksConfs)(() =>
        availableNow(nRows)(session()))
      register("stream_market_spread_rocksdb", "fmgws+rocksdb", rocksConfs)(() =>
        replayed(marketSpread()))
      register("stream_recovery", "fmgws+rocksdb", rocksConfs)(() => recoveryTrial())
    }

    // Untimed streaming warmup (the stream-pack analogue of Bench's
    // batch warmup): pay the one-time streaming-engine costs — offset/
    // commit-log and state-store class init, Janino codegen for the
    // keyed-state host, RocksDB JNI load + column-family setup for the
    // _rocksdb rows — BEFORE any timed trial. Without it the first trial of
    // whichever row runs first absorbs seconds of fixed cost a
    // long-running deployment never sees (r9's first interleaved run
    // showed 15.2 s vs 3.4 s trials on identical code). The warmup
    // stream is a tiny self-staged parquet (no dependence on the test
    // tables), driven through the same keyBy→state→sink shape once per
    // host config present in the registered rows.
    if (rowDefs.nonEmpty) {
      try {
        val warmDir = Files.createTempDirectory("graft_stream_warm").toString
        spark.range(2000)
          .selectExpr("id % 50 as user_id", "id as cents", "id as ts_ns")
          .repartition(4).write.mode("overwrite").parquet(warmDir)
        def warmSource() = ParquetReplaySource[(Long, Long, Long)](
          warmDir,
          (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2)),
          (r: Row) => r.getLong(2),
          maxFilesPerTrigger = 2)
        val hostConfs = rowDefs.map(_._3).distinct
        hostConfs.foreach { confs =>
          withConfs(confs) {
            val h = Graft.source("bench-warmup", warmSource())
              .keyBy(_._1.toString)
              .to(SpreadCheck)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
              .toSink(EmptySink[(Long, Long)](),
                trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
            h.awaitTermination()
          }
        }
        deleteRecursively(new java.io.File(warmDir))
      } catch { case e: Throwable =>
        System.err.println(s"[stream] warmup failed (non-fatal): $e")
      }
    }

    // INTERLEAVED repeated trials (VERDICT r8 #1): page-cache warmth,
    // JIT drift and neighbor processes dominate single-shot numbers
    // (VERDICT r3 #7), and back-to-back trials of one row all land inside
    // the same load spike — two consecutive rounds showed different
    // stream rows swinging 2-4× with no code cause. Trial r of EVERY row
    // runs before trial r+1 of ANY row, so a transient spike discounts
    // one trial of each row instead of all three of one row; each row
    // reports the componentwise MEDIAN over GRAFT_BENCH_REPEATS trials
    // (default 3) PLUS the per-trial wall seconds, so the published JSON
    // shows the spread a reader needs to adjudicate a regression without
    // a re-run.
    // The interleaved execution loop: round r runs one trial of every
    // live row (in registration order) before any row's round r+1. A
    // row that throws is recorded in `failed` and dropped — later rounds
    // skip it; the other rows keep running (round-5 verdict isolation).
    val collected = scala.collection.mutable.LinkedHashMap[String, Vector[Trial]](
      rowDefs.map(r => r._1 -> Vector.empty[Trial]).toSeq: _*)
    val dead = scala.collection.mutable.Set.empty[String]
    // The FULL teardown also runs before the first timed trial
    // (VERDICT r10 #1a): the warmup queries above leave their own cached
    // providers, and the batch pack + staging writes leave writeback
    // debt — previously only the sync ran here, so trial 1 of the first
    // row could still absorb the provider-unload + flush the driver's
    // environment had accumulated.
    teardown()
    for (r <- 1 to repeats) {
      for ((name, _, confs, runTrial) <- rowDefs if !dead(name)) {
        try collected(name) = collected(name) :+ withConfs(confs)(runTrial())
        catch { case e: Throwable =>
          System.err.println(s"[stream] $name failed (trial $r): $e")
          failed += name; dead += name
        }
        teardown()
      }
    }
    val results = rowDefs.toSeq.collect { case (name, provider, _, _) if !dead(name) =>
      val ts = collected(name)
      // State metrics stay per-trial (not medianed): the point is reading
      // a contended run's trials individually (VERDICT r4 #6).
      val state = JArray(ts.map(t =>
        JObject("state_rows" -> JInt(t.stateRows), "state_memory_bytes" -> JInt(t.stateMemory),
          "commit_ms" -> JInt(t.commitMs))).toList)
      RowOut(name, medianD(ts.map(_.sec)), ts.map(_.sec),
        medianD(ts.map(_.rowsPerSec)), ts.map(_.rowsPerSec),
        (medianL(ts.map(_.latency._1)), medianL(ts.map(_.latency._2))), provider, state)
    }
    val extra =
      (if (recoveryLog.isEmpty) Nil
       else Seq("stream_recovery_detail" -> JArray(recoveryLog.toList))) ++
      (if (rescaleLog.isEmpty) Nil
       else Seq("stream_rescale_detail" -> JArray(rescaleLog.toList)))
    Out(results, failed.toList.distinct, repeats, extra)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      stagedDirs.foreach(d => deleteRecursively(new java.io.File(d)))
    }
  }

  /** Odd/even median — ONE definition for every published median. */
  private[graft] def medianD(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private[graft] def medianL(xs: Seq[Long]): Long = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** ~distinct user_ids in the events table at bench SF — replication
    * perturbs timestamps, not the key space, so the staged replay keeps
    * this key volume. The input to the stream pack's shuffle sizing. */
  private[graft] val BenchKeyVolume = 1500L

  /** Blocking filesystem sync (best-effort): waits for outstanding dirty
    * pages to reach disk so writeback never lands inside a timed trial.
    * Failure (no /bin/sync, non-POSIX host) is ignored — it only means
    * the old exposure. */
  private[graft] def syncFs(): Unit =
    try {
      val p = new ProcessBuilder("sync").start()
      p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    } catch { case _: Throwable => }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }
}
