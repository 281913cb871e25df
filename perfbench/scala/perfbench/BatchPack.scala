package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** batch_pack: one closed-loop client runs a fixed list of
  * `SparkEntry.queries`, one at a time, each into a `noop` sink.  The seed
  * permutes the order of every pass.  A first pass writes each result to
  * parquet for the digest check and is the warmup (one query per core in
  * parallel), with one untimed sequential pass after it; timed passes, one
  * query at a time, follow: at least three, then more while the next, as
  * long as the last, still ends within `--seconds`.  In traced runs,
  * passes alternate untraced / traced so the overhead of tracing is
  * measured in the run. */
object BatchPack {
  val Short: Seq[String] = Seq("q1_agg", "q5_join", "q6_filter", "q_events_sessionize")
  val Heavy: Seq[String] = Seq("d_ngram_jaccard")
  val All: Seq[String] = Short ++ Heavy

  /** Free what a query cached, as the repo's own Verify loop does. */
  private def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Shuffle and broadcast exchanges in the final (post-AQE) plan. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var sh, bc = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case _ =>
          p match {
            case _: ShuffleExchangeLike   => sh += 1
            case _: BroadcastExchangeLike => bc += 1
            case _                        =>
          }
          p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (sh, bc)
  }

  def run(o: Opts): Unit = {
    val setup = new Setup
    val data = o("data")
    val spark = setup.time("build")(graft.Sessions.local("perfbench-batch_pack"))
    val trace = new Trace(o.trace)
    val layers = new Layers(spark)
    val all = All
    val rnd = new Random(o.seed)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    setup.time("stage") {
      graft.Tables.names.foreach(t => graft.Tables.load(spark, data, t).schema)
    }
    // the check pass is also the warmup; it runs one query per core at a
    // time, so the cold JVM's planning and JIT work spreads over the cores
    setup.time("warmup") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      val runs = rnd.shuffle(all).map { q =>
        q -> pool.submit(new Runnable {
          def run(): Unit = graft.SparkEntry.queries(q)(spark, data).coalesce(1)
            .write.mode("overwrite").parquet(s"${o.out}/results/$q")
        })
      }
      runs.foreach { case (q, f) =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          errors(q) = s"check run: ${e.getCause.getMessage}" }
      }
      pool.shutdown()
      scrub(spark)
      // then one sequential pass, as the timed ones run, so that the JIT
      // has compiled their paths before the first is timed
      for (q <- rnd.shuffle(all)) {
        try graft.SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => errors(s"$q#warmup") = s"warmup run: ${e.getMessage}" }
        scrub(spark)
      }
    }
    setup.done()

    val passes = ArrayBuffer[Map[String, Any]]()
    val layerPasses = ArrayBuffer[Map[String, Any]]()
    // traced runs alternate, so they need twice the passes for as many of each
    val window = new Window(o.seconds, if (o.trace) 2 * Window.MinSamples else Window.MinSamples)
    var pass = 0
    while (window.more()) {
      val traced = o.trace && pass % 2 == 1
      if (traced) layers.install()
      trace.traceId = s"pass$pass"
      val times = ArrayBuffer[Map[String, Any]]()
      var eagerJobs, sh, bc = 0L
      var codegenNs = 0L
      val phase = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
      val exec0 = layers.exec.snapshot
      val passT0 = System.nanoTime
      for (q <- rnd.shuffle(all)) {
        val group = if (Short.contains(q)) "short" else "heavy"
        val t0 = System.nanoTime
        var ok = true
        try {
          val jobs0 = layers.exec.jobs
          val df: DataFrame = (if (traced) trace else Trace.off)("operators.build", q) {
            graft.SparkEntry.queries(q)(spark, data)
          }
          if (traced) {
            layers.drain()
            eagerJobs += layers.exec.jobs - jobs0
            // the DataFrame is analyzed when it is built
            val buildId = trace.lastId("operators.build")
            df.queryExecution.tracker.phases.get("analysis").foreach { ps =>
              phase("analysis") += ps.durationMs.toDouble
              trace.addEpochMs("plan.analysis", q, ps.startTimeMs, ps.endTimeMs, buildId)
            }
          }
          val cg0 = CodeGenerator.compileTime
          layers.execs.last = None
          (if (traced) trace else Trace.off)("exec.action", q) {
            df.write.format("noop").mode("overwrite").save()
          }
          if (traced) {
            codegenNs += CodeGenerator.compileTime - cg0
            layers.drain()
            val actionId = trace.lastId("exec.action")
            layers.execs.last.foreach { qe =>
              val (s, b) = exchanges(qe.executedPlan)
              sh += s; bc += b
              qe.tracker.phases.foreach { case (name, ps) =>
                phase(name) += ps.durationMs.toDouble
                trace.addEpochMs(s"plan.$name", q, ps.startTimeMs, ps.endTimeMs, actionId)
              }
            }
          }
        } catch { case e: Throwable =>
          ok = false
          errors(s"$q#$pass") = s"timed run: ${e.getMessage}"
        }
        times += Map("query" -> q, "group" -> group, "ms" -> (System.nanoTime - t0) / 1e6,
          "ok" -> ok)
        scrub(spark)
      }
      val passMs = (System.nanoTime - passT0) / 1e6
      window.done(passMs)
      passes += Map("pass" -> pass, "traced" -> traced, "queries" -> times.toSeq,
        "ms" -> passMs)
      if (traced) {
        layers.drain()
        val ex = ExecCounters.delta(exec0, layers.exec.snapshot)
        layerPasses += Map("exec" -> ex, "eager_jobs" -> eagerJobs,
          "exchanges" -> sh, "broadcasts" -> bc, "codegen_ms" -> codegenNs / 1e6,
          "phases" -> phase.toMap, "wall_ms" -> passMs)
        layers.remove()
      }
      pass += 1
    }

    val heap = Mem.retainedHeapMb()
    trace.write(s"${o.out}/spans.jsonl")
    Json.write(s"${o.out}/result.json", Map(
      "workload" -> "batch_pack", "heap_mb" -> heap, "cores" -> spark.sparkContext.defaultParallelism,
      "jvm_start_ms" -> setup.jvmStartMs, "setup_s" -> setup.setupS,
      "setup_phases" -> setup.phases, "peak_rss_mb" -> Mem.peakRssMb(),
      "checked" -> all, "errors" -> errors, "passes" -> passes.toSeq,
      "layers" -> layerPasses.toSeq))
    spark.stop()
  }
}
