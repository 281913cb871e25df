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
    // `queries` map carries the per-query MEDIAN over every trial run, so a
    // single contended run can't masquerade as a regression (or a
    // speedup), and `queries_detail` carries median/min/max/all runs so
    // round-over-round deltas read against the row's own spread.
    val repeats = envRepeats

    // GRAFT_BENCH_ONLY="d_cluster,stream_stateless" benches a subset of
    // the batch and stream rows alike — the iterate-on-one-operator loop.
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    var failed = List.empty[String]
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
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
      // kernel otherwise repays inside a LATER query's timed window.
      StreamBench.syncFs()
    }
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          if (!failed.contains(name)) failed ::= name
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      teardown()
      (elapsed, ok)
    }
    val batchRows = queryList.map { case (name, fn) =>
      val walls = (1 to repeats).iterator.map(_ => runOnce(name, fn))
        .takeWhile(_._2).map(_._1).toVector match {
        case v if v.nonEmpty => v
        case _               => Vector(0.0) // failed on first run
      }
      BatchRow(name, walls)
    }
    val medians = batchRows.map(r => r.name -> r.median)
    // The streaming pack runs AFTER every batch timing is in hand, so it
    // must never be able to destroy them: StreamBench.run failure-isolates
    // each pipeline internally, and this outer catch covers anything that
    // still escapes (round-5 verdict: one table's analysis error here
    // zeroed the entire artifact). Either way the JSON below gets written.
    val streamOut =
      try StreamBench.run(spark, sfDir, only)
      catch { case e: Throwable =>
        System.err.println(s"[bench] StreamBench.run failed: $e")
        StreamBench.Out(Nil, Seq("stream_bench"), repeats)
      }
    failed = streamOut.failed.toList.reverse ::: failed
    val artifact = benchOutJson(batchRows, repeats, streamOut, failed, sfDir, only)
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
    val streamSecs = streamOut.rows.map(r => r.name -> r.medianSec)
    val (total, totalCpuBound, totalWallBound) = splitTotals(medians)
    println(compactBenchJson(total, totalCpuBound, totalWallBound,
      medians ++ streamSecs, streamOut.rows.map(r => r.name -> r.rowsPerSec),
      failed, sfDir, spark.sparkContext.defaultParallelism, only))
    spark.stop()
  }

  /** Trials per row, batch and stream alike: GRAFT_BENCH_REPEATS,
    * default 3. */
  private[graft] def envRepeats: Int =
    sys.env.getOrElse("GRAFT_BENCH_REPEATS", "3").toInt.max(1)

  /** One batch row as measured: the wall seconds of every trial it ran;
    * the headline is their plain median. */
  private[graft] final case class BatchRow(name: String, walls: Vector[Double]) {
    def median: Double = StreamBench.medianD(walls)
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
  private[graft] def benchOutJson(batch: Seq[BatchRow], repeats: Int,
      stream: StreamBench.Out, failed: Seq[String],
      sf: String, subset: Option[Set[String]]): JObject = {
    val medians = batch.map(r => r.name -> r.median)
    val (total, totalCpuBound, totalWallBound) = splitTotals(medians)
    val streamRows = stream.rows
    val detail = obj(batch.map(r => r.name -> r)) { r =>
      JObject(List[JField](
        "median" -> JDouble(r.median), "min" -> JDouble(r.walls.min),
        "max" -> JDouble(r.walls.max), "runs" -> dbl(r.walls)) ++
        (if (PinnedTwins(r.name)) List[JField]("pinned_twin" -> JBool(true)) else Nil))
    }
    JObject(List[JField](
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "subset" -> subset.fold[JValue](JBool(false))(names),
      "total_cpu_bound" -> JDouble(totalCpuBound),
      "total_wall_bound" -> JDouble(totalWallBound),
      "wall_bound_queries" -> names(WallBound),
      "stream_wall_bound_queries" -> names(StreamWallBound),
      "pinned_twins" -> names(PinnedTwins),
      "repeats" -> JInt(repeats),
      "stream_repeats" -> JInt(stream.repeats),
      "queries" -> obj(medians ++ streamRows.map(r => r.name -> r.medianSec))(JDouble(_)),
      "queries_detail" -> detail,
      // A query that failed on its FIRST run records Vector(0.0) and so
      // contributes 0 to queries/total (later-run failures contribute the
      // successful runs' median); the failed list makes either case
      // visible instead of reading as a speedup (ADVICE r2, r4).
      "failed" -> names(failed),
      "stream_rows_per_sec" ->
        obj(streamRows.map(r => r.name -> r.rowsPerSec))(v => JInt(v.round)),
      // Per-trial wall seconds per streaming row (VERDICT r8 #1): the
      // trials are INTERLEAVED across the pack, so a 3× spread here reads
      // as host contention, not a code regression.
      "stream_trials_sec" -> obj(streamRows.map(r => r.name -> r.trialsSec))(dbl)) ++
      // Row-rig extras — e.g. stream_recovery_detail's per-trial
      // kill/restart/verify record — as top-level keys.
      stream.extra.map { case (k, v) => JField(k, v) } ++
      List[JField](
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
}
