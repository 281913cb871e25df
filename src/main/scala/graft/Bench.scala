package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-round benchmark main. Each registered query is driven to a
  * `noop`-format write — unlike `.count()`, which lets Catalyst prune
  * every unused projection (a map-only query would be timed as a bare
  * scan-count), the noop sink evaluates the full result rows but writes
  * nothing (ADVICE r1).
  *
  * Output: the full artifact goes to `bench_out.json` (or
  * `GRAFT_BENCH_OUT`); stdout gets one compact JSON line, printed last,
  * which is the number of record.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // Untimed warmup: pay JVM/codegen/parquet-reader initialization once,
    // instead of billing ~6 s of JIT to whichever query sorts first. The
    // synthetic query runs over spark.range (never the test tables — no
    // data caching) but touches the machinery the real queries compile:
    // regex/md5/higher-order expressions, a shuffle agg under AQE, a
    // broadcast join, and a window function, so Janino and the shuffle
    // path are warm before the first measurement.
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").write.format("noop").mode("overwrite").save()
    locally {
      import org.apache.spark.sql.functions._
      val base = spark.range(1 << 16)
        .withColumn("s", expr("md5(regexp_replace(cast(id as string), '[02468]', 'x'))"))
        .withColumn("a", expr("filter(transform(sequence(1, 4), i -> i * id), v -> v % 2 = 0)"))
        .withColumn("k", expr("id % 97"))
      val dim = spark.range(97).select(col("id").as("k"), col("id").as("v"))
      base.join(broadcast(dim), "k")
        .groupBy("k").agg(count(lit(1)).as("n"), sum(expr("size(a)")).as("sa"),
          max(length(col("s"))).as("ls"))
        .withColumn("r", expr("rank() over (order by n, k)"))
        .write.format("noop").mode("overwrite").save()
    }
    // Each query runs GRAFT_BENCH_REPEATS times (default 3); the headline
    // `queries` map carries the per-query MEDIAN so a single contended run
    // can't masquerade as a regression (or a speedup), and `queries_detail`
    // carries median/min/max/all runs so round-over-round deltas are
    // adjudicatable (VERDICT r3 #1: a one-shot bench can't distinguish a
    // real 3x regression from a neighbor process).
    val repeats = sys.env.getOrElse("GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // Calibration: a fixed CPU+shuffle workload, timed like a query. The
    // host is shared — identical full runs 40 min apart differed 3x in
    // round 4 — so the artifact publishes how fast the host was while
    // the queries ran, and the spike handling below brackets on it.
    def calProbeOnce(): Double = {
      import org.apache.spark.sql.functions.{avg, expr, max, sum}
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("id % 1024 as k", "id as v")
        .groupBy("k").agg(sum("v"), avg("v"), max(expr("xxhash64(v)")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // One probe shot is too noisy to read: same-host shots 70 min apart
    // read 0.42 vs 0.92 s (JIT/GC state). Each calibration point is
    // therefore the MEDIAN of three shots, after one untimed warmup shot
    // at startup (the probe's own codegen cost).
    def calProbe(): Double = StreamBench.medianD((1 to 3).map(_ => calProbeOnce()))
    calProbeOnce()
    val calibration = calProbe()
    // The probe re-runs every CalEvery queries (VERDICT r6 #4: a host that
    // degrades MID-run is invisible to a startup-only sample).
    // calibration_series records (query-index, sec) for each probe; a
    // query's bracketing probes feed its spike evidence below.
    val CalEvery = 10
    val calSeries = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, calibration))

    // GRAFT_BENCH_ONLY="d_cluster,d_ngram_jaccard" benches a subset (and
    // skips the streaming pack) — the iterate-on-one-operator loop.
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    var failed = List.empty[String]
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Per-trial eruption evidence for the wall-bound rows (VERDICT r11
    // #1): all five drive REAL internal streaming queries (MemoryStream
    // hosts, socket rigs), so the same stall signature the stream pack
    // flags on — state-store commit_ms / trigger duration blowing up
    // while siblings stay flat — is observable here through the session's
    // streaming listener bus. The listener accumulates commit_ms summed
    // over state operators plus triggerExecution ms across every progress
    // event; counters reset before each wall-bound trial and are
    // snapshotted after a short settle (delivery is async — poll until
    // the event counter stops moving, bounded at 2 s, all outside the
    // timed window).
    val evCommit = new java.util.concurrent.atomic.AtomicLong(0L)
    val evDur = new java.util.concurrent.atomic.AtomicLong(0L)
    val evSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        evCommit.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
        evDur.addAndGet(
          Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
        evSeq.incrementAndGet()
        ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    def settleEvidence(): Long = {
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        val cur = evSeq.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(50)
      }
      // commit_ms is the sharper stall signature when the row has stateful
      // operators (the late-data hosts); the stateless rigs (gen source,
      // wire round-trips) fall back to total trigger duration — per row
      // the choice is structural, so sibling medians never mix units.
      val c = evCommit.get()
      if (c > 0) c else evDur.get()
    }
    def teardown(): Unit = {
      // drop any caches the query persisted so the next timing is clean
      // (outside the timed window — teardown isn't the query's cost).
      // Caching.reuse blocks live at the RDD layer, freed by GC in a
      // user session; a back-to-back bench scavenges them explicitly so
      // run N's leftovers can't pressure run N+1.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // Force a GC so the ContextCleaner reclaims the previous run's
      // shuffle files/broadcasts NOW, not in the middle of the next
      // timed run — the round-4 forensics saw 10x outliers whenever a
      // prior query's cleanup landed inside a later query's window.
      System.gc()
      // Drain dirty-page writeback the same way the stream pack does:
      // staging-heavy entries (p_ann_search writes a partitioned index;
      // the roundtrip rigs write checkpoints) leave flush debt the
      // kernel otherwise repays inside a LATER query's timed window —
      // the same channel behind the stream rows' commit_ms eruptions.
      StreamBench.syncFs()
    }
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long, Boolean) = {
      val wantEv = WallBound(name)
      if (wantEv) { evCommit.set(0L); evDur.set(0L); evSeq.set(0L) }
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          if (!failed.contains(name)) failed ::= name
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val ev = if (wantEv && ok) settleEvidence() else 0L
      teardown()
      (elapsed, ev, ok)
    }
    // Drill hook: GRAFT_BENCH_FORCE_SPIKE="<name>:<trialIdx>" inflates
    // that one wall-bound trial's recorded (wall, evidence) 10× so the
    // whole flag → teardown → re-run → batch_spiked_trials pipeline can
    // be exercised end-to-end on demand (the stream pack's pipeline was
    // validated by real storms; this gives the batch pass the same
    // proof without waiting for one). A drilled artifact can never
    // masquerade as a real run: the JSON carries "drill":true.
    val forceSpike = sys.env.get("GRAFT_BENCH_FORCE_SPIKE").flatMap { s =>
      s.split(":") match {
        case Array(n, i) => scala.util.Try((n, i.toInt)).toOption
        case _           => None
      }
    }
    val results = queryList.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % CalEvery == 0) calSeries += ((qi, calProbe()))
      val runs = (1 to repeats).iterator.map(_ => runOnce(name, fn))
        .takeWhile(_._3).map(t => (t._1, t._2)).toVector match {
        case v if v.nonEmpty => v
        case _               => Vector((0.0, 0L)) // failed on first run
      }
      val injected = forceSpike match {
        case Some((n, i)) if n == name && i >= 0 && i < runs.length =>
          System.err.println(s"[bench] DRILL: inflating $name trial ${i + 1}")
          runs.updated(i, (runs(i)._1 * 10, runs(i)._2 * 10))
        case _ => runs
      }
      name -> injected
    }
    // closing probe: the tail queries get a neighbor on their right too
    calSeries += ((queryList.size, calProbe()))
    // Mechanical spike adjudication for the wall-bound rows (VERDICT r11
    // #1): same discipline as the stream pack, same predicate
    // (StreamBench.spikeFlagsWith — wall > 2× row min AND commit/duration
    // evidence > 2× not-already-flagged sibling median, OR a calibration
    // eruption), with the calibration clause adapted to the batch shape:
    // the probes bracket a query's whole trial block, so "either
    // bracketing probe rose >1.5× the series median" applies uniformly to
    // the block's trials. Flagged trials re-run ONCE after a teardown;
    // originals are published under batch_spiked_trials; headline medians
    // exclude flagged trials (clean medians).
    val collected = scala.collection.mutable.Map(results: _*)
    val batchSpikedLog =
      scala.collection.mutable.Map.empty[String, Vector[(Int, Double, Long, Option[Double])]]
    val qIndex = queryList.map(_._1).zipWithIndex.toMap
    def bracketSpiked(name: String): Boolean = {
      val qi = qIndex(name)
      val calMed = StreamBench.medianD(calSeries.map(_._2).toSeq)
      val before = calSeries.filter(_._1 <= qi).maxBy(_._1)._2
      val after = calSeries.filter(_._1 > qi)
        .minByOption(_._1).map(_._2).getOrElse(before)
      before > 1.5 * calMed || after > 1.5 * calMed
    }
    WallBound.toSeq.sorted.foreach { name =>
      collected.get(name).filterNot(_ => failed.contains(name)).foreach { ts =>
        val calHot = bracketSpiked(name)
        val flags = StreamBench.spikeFlagsWith(ts, _ => calHot)
        flags.toSeq.sorted.foreach { i =>
          val orig = ts(i)
          System.err.println(s"[bench] $name trial ${i + 1} spiked " +
            s"(wall ${orig._1}s, evidence_ms ${orig._2}); re-running once")
          val fn = queryList.find(_._1 == name).get._2
          // a failed RE-RUN keeps the original trial (it stays excluded
          // from the clean median via rerunFailed) — it must not mark the
          // row itself failed, its measured trials all passed
          val failedBefore = failed
          val repl = runOnce(name, fn) match {
            case (w, e, true) => Some((w, e))
            case _            => failed = failedBefore; None
          }
          repl.foreach(t => collected(name) = collected(name).updated(i, t))
          batchSpikedLog(name) = batchSpikedLog.getOrElse(name, Vector.empty) :+
            ((i, orig._1, orig._2, repl.map(_._1)))
        }
      }
    }
    // Final flags per wall-bound row: re-evaluate on the post-replacement
    // vector WITHOUT the calibration clause; exclusion is CONFINED to
    // trials that went through the spike pipeline (flagged, re-run,
    // published) plus failed re-runs — the same no-silent-cherry-picking
    // contract as the stream pack (StreamBench.run).
    val batchRows = queryList.map { case (name, _) =>
      val ts = collected(name)
      val excluded =
        if (!WallBound(name)) Set.empty[Int]
        else {
          val log = batchSpikedLog.getOrElse(name, Vector.empty)
          val piped = log.map(_._1).toSet
          val rerunFailed = log.collect { case (i, _, _, None) => i }.toSet
          (StreamBench.spikeFlagsWith(ts, _ => false) & piped) ++ rerunFailed
        }
      BatchRow(name, ts, excluded)
    }
    val medians = batchRows.map(r => r.name -> r.median)
    // The streaming pack runs AFTER every batch timing is in hand, so it
    // must never be able to destroy them: StreamBench.run failure-isolates
    // each pipeline internally, and this outer catch covers anything that
    // still escapes (round-5 verdict: one table's analysis error here
    // zeroed the entire artifact). Either way the JSON below gets written.
    val streamOut =
      if (only.isDefined) StreamBench.Out(Nil, Nil, Nil)
      else try StreamBench.run(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] StreamBench.run failed: $e")
        StreamBench.Out(Nil, Seq("stream_bench"), Nil)
      }
    failed = streamOut.failed.toList.reverse ::: failed
    // ---- Standalone wire reading (VERDICT r13 #2): the in-pack wire row
    // is socket-pacing-sensitive (r13: driver 893 K vs builder 1.157 M
    // rows/s on identical code), and an isolated wire-only run is the
    // code-level reading. One re-entry into the stream rig AFTER the
    // pack — same staging, per-trial teardown and spike machinery —
    // published under its own key with the ≥900 K bar verdict. 5 trials,
    // not the pack's 3 (VERDICT r14 #6): a 3-trial median flips on a
    // single host eruption; a 5-trial median survives two.
    val wireStandalone: Option[StreamBench.Out] =
      if (only.isDefined ||
          !streamOut.rows.exists(_.name == WireRow)) None
      else try {
        val o = StreamBench.run(spark, sfDir,
          onlyOverride = Some(Set(WireRow)),
          repeatsOverride = Some(5))
        failed = (o.failed.toList ::: failed).distinct
        Some(o)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] standalone wire run failed: $e")
        None
      }
    val drill = forceSpike.isDefined || sys.env.contains("GRAFT_STREAM_FORCE_WALL")
    val streamRepeats = sys.env.getOrElse("GRAFT_STREAM_REPEATS", "3").toInt.max(1)
    val artifact = benchOutJson(batchRows, batchSpikedLog.toSeq, calSeries.toSeq,
      repeats, streamOut, streamRepeats, wireStandalone, failed, sfDir, only, drill)
    // The round-4 driver capture truncated the stdout tail and destroyed
    // the artifact (VERDICT r4 #1) — the full JSON goes to a file so log
    // interleaving / tail-truncation can never lose it. A
    // GRAFT_BENCH_ONLY subset run marks itself in the JSON AND lands in a
    // different default file, so an iterate-on-one-operator loop can't
    // clobber the full-run artifact with a 1-query "total".
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_out.subset.json" else "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (compact(render(artifact)) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // ---- Driver-contract stdout line (VERDICT r17 next #1): ONE COMPACT
    // JSON line, printed LAST before exit — the number of record. The
    // FULL artifact (queries_detail, per-trial arrays, state blobs:
    // ~32 KB) stays in bench_out.json. sbt's logger prefix is kept off
    // the line by build.sbt's outputStrategy := StdoutOutput.
    val streamSecs = streamOut.rows.map(r => r.name -> r.medianCleanSec)
    val (total, totalCpuBound, totalWallBound) = splitTotals(medians)
    println(compactBenchJson(total, totalCpuBound, totalWallBound,
      medians ++ streamSecs, streamOut.rows.map(r => r.name -> r.rowsPerSecClean),
      failed, sfDir, spark.sparkContext.defaultParallelism, only))
    spark.stop()
  }

  /** One batch row as measured: trials are (wall sec, evidence ms) after
    * any spike re-run replaced its original; `excluded` indexes the
    * trials left out of the headline (clean) median. */
  private[graft] final case class BatchRow(name: String,
      trials: Vector[(Double, Long)], excluded: Set[Int]) {
    def walls: Vector[Double] = trials.map(_._1)
    /** Walls the headline uses: the clean trials, or all of them when
      * every trial is flagged. */
    def used: Seq[Double] = {
      val clean = trials.indices.filterNot(excluded).map(walls)
      if (clean.nonEmpty) clean else walls
    }
    def median: Double = StreamBench.medianD(used)
  }

  /** CPU-bound vs wall-bound split (VERDICT r7 #6 / r8 #1): a handful of
    * registry entries are paced by wall-clock machinery, not compute —
    * p_gen_source waits on a rate-limited generator, the p_late_* rows
    * drive a real multi-batch streaming host through an arrival script,
    * and the two wire round-trips poll sockets. */
  private[graft] val WallBound: Set[String] = Set("p_gen_source",
    "p_late_fire", "p_late_delay", "p_tcp_roundtrip", "p_connector_roundtrip")

  /** Oracle-pinned twins (VERDICT r9 #5): these three registry entries
    * deliberately pin scale-trap constants so the DuckDB oracle stays
    * reproducible; each ships alongside a self-sizing twin
    * (s_cosine_dups_scale, q_events_session_native, d_semantic_scale)
    * that IS the deployable form. Tagged in the artifact (README
    * "Oracle-pinned twins"). */
  private[graft] val PinnedTwins: Set[String] =
    Set("s_cosine_dups", "q_events_sessionize", "d_semantic")

  private[graft] val WireRow = "stream_market_spread_wire"

  /** (total, CPU-bound subtotal, wall-bound subtotal) over batch medians.
    * The wall-bound rows' seconds measure trigger/socket cadence, not
    * compute, so both subtotals are published; `total` is their sum. */
  private[graft] def splitTotals(medians: Seq[(String, Double)]): (Double, Double, Double) = {
    val cpu = medians.collect { case (n, m) if !WallBound(n) => m }.sum
    val wall = medians.collect { case (n, m) if WallBound(n) => m }.sum
    (medians.map(_._2).sum, cpu, wall)
  }

  private def dbl(xs: Seq[Double]): JArray = JArray(xs.map(JDouble(_)).toList)
  private def names(xs: Iterable[String]): JArray = JArray(xs.toList.sorted.map(JString(_)))
  private def obj[A](kvs: Seq[(String, A)])(f: A => JValue): JObject =
    JObject(kvs.map { case (k, v) => JField(k, f(v)) }.toList)

  /** The full `bench_out.json` artifact, pure so BenchJsonSpec can parse
    * it back. Every string goes through json4s, so names, paths and
    * failure messages are escaped by construction. */
  private[graft] def benchOutJson(batch: Seq[BatchRow],
      batchSpiked: Seq[(String, Vector[(Int, Double, Long, Option[Double])])],
      calSeries: Seq[(Int, Double)], repeats: Int,
      stream: StreamBench.Out, streamRepeats: Int,
      wireStandalone: Option[StreamBench.Out], failed: Seq[String],
      sf: String, subset: Option[Set[String]], drill: Boolean): JObject = {
    val medians = batch.map(r => r.name -> r.median)
    val (total, totalCpuBound, totalWallBound) = splitTotals(medians)
    val streamRows = stream.rows
    // Per-round host-health flag (VERDICT r11 #2): the spike detector's
    // designed blind spot is unflagged-but-elevated trials below the 2×
    // wall threshold — a storm window can inflate a row's clean median
    // ~50% with no machine-readable marker ON the row. This summary makes
    // that state legible to round-over-round comparison scripts:
    // cal_max_ratio = worst stream-round calibration sample over the
    // series median (a whole-host contention window reads >1.5);
    // elevated_unflagged_trials counts surviving trials in (1.5×, 2×] of
    // their row's min (the exact class the predicate cannot flag);
    // wall_outliers_unflagged (VERDICT r12 #1) counts surviving trials
    // ABOVE 2× that carry no exclusion marker.
    // `storm` requires EVIDENCE (VERDICT r13 #1): an eruption that was
    // mechanically flagged+replaced (batch or stream pass), a surviving
    // >2× wall outlier with no exclusion marker, or a whole-host
    // calibration window. `turbulent` = no such evidence, only (1.5×, 2×]
    // elevated trials — the jitter band the spike predicate cannot (and
    // should not) flag.
    val streamCalVals = stream.roundCal.map(_._2)
    val streamCalMed = if (streamCalVals.isEmpty) 0.0 else StreamBench.medianD(streamCalVals)
    val calMaxRatio = if (streamCalMed > 0) streamCalVals.max / streamCalMed else 0.0
    val elevatedRows = streamRows.flatMap { r =>
      val ts = r.trialsSec
      if (ts.isEmpty) None
      else {
        val mn = ts.min
        val n = ts.count(w => w > 1.5 * mn && w <= 2 * mn)
        if (n > 0) Some(r.name -> n) else None
      }
    }
    val elevatedCount = elevatedRows.map(_._2).sum
    val wallOutlierRows = streamRows
      .filter(_.wallOutliers > 0).map(r => r.name -> r.wallOutliers)
    val wallOutlierCount = wallOutlierRows.map(_._2).sum
    val streamSpikedRows = streamRows.count(_.spiked.arr.nonEmpty)
    val batchSpikedRows = batchSpiked.size
    val stormFlag = streamSpikedRows + batchSpikedRows >= 1 ||
      wallOutlierCount >= 1 || calMaxRatio > 1.5
    val turbulentFlag = !stormFlag && elevatedCount >= 1
    val health = JObject(
      "cal_median_sec" -> JDouble(streamCalMed),
      "cal_max_ratio" -> JDouble(calMaxRatio),
      "elevated_unflagged_trials" -> JInt(elevatedCount),
      "elevated_rows" -> obj(elevatedRows.sortBy(_._1))(JInt(_)),
      "wall_outliers_unflagged" -> JInt(wallOutlierCount),
      "wall_outlier_rows" -> obj(wallOutlierRows.sortBy(_._1))(JInt(_)),
      "spiked_rows_stream" -> JInt(streamSpikedRows),
      "spiked_rows_batch" -> JInt(batchSpikedRows),
      "storm" -> JBool(stormFlag),
      "turbulent" -> JBool(turbulentFlag))
    // Detail rows quote the POST-replacement trial vector (like the
    // stream pack's trials_sec); originals for any replaced trial live in
    // batch_spiked_trials. Wall-bound rows additionally publish their
    // per-trial evidence_ms so the spike decision is reproducible from
    // the artifact alone.
    val detail = obj(batch.map(r => r.name -> r)) { r =>
      val used = r.used
      JObject(List[JField](
        "median" -> JDouble(r.median), "min" -> JDouble(used.min),
        "max" -> JDouble(used.max), "runs" -> dbl(r.walls)) ++
        (if (WallBound(r.name))
          List[JField]("evidence_ms" -> JArray(r.trials.map(t => JInt(t._2)).toList))
         else Nil) ++
        (if (PinnedTwins(r.name)) List[JField]("pinned_twin" -> JBool(true)) else Nil))
    }
    // batch_spiked_trials (VERDICT r11 #1): per wall-bound row, each
    // mechanically-flagged trial with its original wall, the commit/
    // duration evidence, and the replacement wall that superseded it.
    val batchSpikedJson = obj(batchSpiked.sortBy(_._1)) { v =>
      JArray(v.map { case (i, w, e, repl) =>
        JObject("trial" -> JInt(i + 1), "wall_sec" -> JDouble(w),
          "evidence_ms" -> JInt(e),
          "replacement_wall_sec" -> repl.map(JDouble(_)).getOrElse(JNull))
      }.toList)
    }
    val wireJson = wireStandalone.flatMap(_.rows.find(_.name == WireRow)) match {
      case Some(r) =>
        val adjCal = wireStandalone.map(o => StreamBench.medianD(o.roundCal.map(_._2)))
          .filter(_ > 0).getOrElse(0.0)
        JObject(
          "median_clean_sec" -> JDouble(r.medianCleanSec),
          "rows_per_sec" -> JInt(r.rowsPerSecClean.round),
          // the fastest trial: the stall-robust floor reading
          "rows_per_sec_best" -> JInt(r.trialsRps.max.round),
          "cal_median_sec" -> JDouble(streamCalMed),
          "cal_adjacent_sec" -> JDouble(adjCal),
          "trials_sec" -> dbl(r.trialsSec),
          "trials_rps" -> JArray(r.trialsRps.map(x => JInt(x.round)).toList),
          "spiked" -> r.spiked, "wall_rerun" -> r.wallRerun,
          "wall_outliers" -> JInt(r.wallOutliers),
          "meets_900k_bar" -> JBool(r.rowsPerSecClean >= WireBarRps))
      case None => JNull
    }
    val head = List[JField]("metric" -> JString("total"), "value" -> JDouble(total),
      "unit" -> JString("sec")) ++
      (if (drill) List[JField]("drill" -> JBool(true)) else Nil)
    JObject(head ++ List[JField](
      "subset" -> subset.fold[JValue](JBool(false))(names),
      "total_cpu_bound" -> JDouble(totalCpuBound),
      "total_wall_bound" -> JDouble(totalWallBound),
      "wall_bound_queries" -> names(WallBound),
      "stream_wall_bound_queries" -> names(StreamWallBound),
      "pinned_twins" -> names(PinnedTwins),
      "repeats" -> JInt(repeats),
      "stream_repeats" -> JInt(streamRepeats),
      "calibration_sec" -> JDouble(calSeries.headOption.map(_._2).getOrElse(0.0)),
      "calibration_series" -> JArray(calSeries.map { case (at, sec) =>
        JObject("at" -> JInt(at), "sec" -> JDouble(sec)) }.toList),
      "queries" -> obj(medians ++ streamRows.map(r => r.name -> r.medianCleanSec))(JDouble(_)),
      "queries_detail" -> detail,
      "batch_spiked_trials" -> batchSpikedJson,
      "stream_round_health" -> health,
      // A query that failed on its FIRST run records Vector(0.0) and so
      // contributes 0 to queries/total (later-run failures contribute the
      // successful runs' median); the failed list makes either case
      // visible instead of reading as a speedup (ADVICE r2, r4).
      "failed" -> names(failed),
      "stream_rows_per_sec" ->
        obj(streamRows.map(r => r.name -> r.rowsPerSecClean))(v => JInt(v.round)),
      // Per-trial wall seconds per streaming row (VERDICT r8 #1): the
      // trials are INTERLEAVED across the pack, so a 3× spread here reads
      // as host contention, not a code regression.
      "stream_trials_sec" -> obj(streamRows.map(r => r.name -> r.trialsSec))(dbl),
      "stream_median_clean" ->
        obj(streamRows.map(r => r.name -> r.medianCleanSec))(JDouble(_)),
      // The spike detector's own record (VERDICT r10 #1b); empty lists =
      // no eruption detected.
      "stream_spiked_trials" -> obj(streamRows.map(r => r.name -> r.spiked))(identity),
      // Evidence-clean wall eruptions re-run once (VERDICT r12 #1) — a
      // key DISTINCT from stream_spiked_trials so evidence-backed
      // exclusions and wall-only replacements stay separately auditable.
      "stream_wall_rerun_trials" -> obj(streamRows.filter(_.wallRerun.arr.nonEmpty)
        .map(r => r.name -> r.wallRerun))(identity)) ++
      // Row-rig extras — e.g. stream_recovery_detail's per-trial
      // kill/restart/verify record — as top-level keys.
      stream.extra.map { case (k, v) => JField(k, v) } ++
      List[JField](
        "stream_wire_standalone" -> wireJson,
        // Round-boundary calibration for the stream phase — the batch
        // calibration_series stops before the stream rows run.
        "stream_calibration_series" -> JArray(stream.roundCal.map { case (r, sec) =>
          JObject("round" -> JInt(r), "sec" -> JDouble(sec)) }.toList),
        "stream_batch_latency" -> obj(streamRows.map(r => r.name -> r.latency)) {
          case (p50, mx) => JObject("p50_ms" -> JInt(p50), "max_ms" -> JInt(mx)) },
        "stream_state_provider" -> obj(streamRows.map(r => r.name -> r.provider))(JString(_)),
        // Per-trial state-store telemetry (rows/memory/commit-ms) per
        // streaming row (VERDICT r4 #6).
        "stream_state" -> obj(streamRows.map(r => r.name -> r.state))(identity),
        "sf" -> JString(sf)))
  }

  /** The driver-contract stdout line (VERDICT r17 next #1), pure so
    * BenchJsonSpec can pin its shape: one '{'-prefixed single-line JSON
    * with `metric`/`value`/`unit`/`queries`/`sf` (the original contract)
    * plus the CPU/wall split, stream rows/s, `failed` and `cpus`.
    * Seconds carry 3 decimals; rows/s are integers. Every query key the
    * full artifact publishes is present — entries are never dropped or
    * renamed here. */
  private[graft] def compactBenchJson(total: Double, totalCpuBound: Double,
      totalWallBound: Double, queries: Seq[(String, Double)],
      streamRps: Seq[(String, Double)], failed: Seq[String], sf: String,
      cpus: Int, subset: Option[Set[String]]): String = {
    def f3(v: Double): JValue = JDecimal(BigDecimal(
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(v))))
    compact(render(JObject(
      List[JField]("metric" -> JString("total"), "value" -> f3(total),
        "unit" -> JString("sec")) ++
      subset.map(s => JField("subset", names(s))).toList ++
      List[JField](
        "total_cpu_bound" -> f3(totalCpuBound),
        "total_wall_bound" -> f3(totalWallBound),
        "cpus" -> JInt(cpus),
        "queries" -> obj(queries)(f3),
        "stream_rows_per_sec" -> obj(streamRps)(v => JInt(v.round)),
        "failed" -> names(failed),
        "sf" -> JString(sf)))))
  }

  /** Stream-pack rows paced by machinery other than host CPU — the
    * stream half of the wall-bound/CPU-bound split (VERDICT r14 #1),
    * published as `stream_wall_bound_queries`. Tagged structurally, with
    * the r14 cross-host evidence behind each (SCALING.md r15 corr table
    * — these four read corr(wall, cal) of −0.09 to +0.14 across the
    * eight r14 runs while every other row tracked the host at
    * 0.61-0.94):
    *  - stream_market_spread_wire: socket-paced (senders + sockets set
    *    the cadence; the in-pack row has been pacing-sensitive since r13);
    *  - stream_recovery: restart machinery — checkpoint reload, TTFO
    *    waits, cold store re-opens;
    *  - stream_two_stage / stream_topk: concurrent two-query topologies
    *    bridged by a file handoff the downstream polls. */
  private[graft] val StreamWallBound: Set[String] = Set(
    WireRow, "stream_recovery", "stream_two_stage", "stream_topk")

  /** The published wire done-bar (rows/s, standalone reading). */
  private[graft] val WireBarRps: Double = 900000.0
}
