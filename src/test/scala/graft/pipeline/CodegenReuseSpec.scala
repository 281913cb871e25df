package graft.pipeline

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Each registered query compiles its generated classes once per JVM.
  *
  * One pass over the whole registry asks for well over a thousand classes,
  * far more than Spark's default codegen cache of 100 holds. So a second
  * pass that compiles nothing also proves that the cache size set in
  * [[graft.Sessions.tune]] reached `CodeGenerator`, which reads it once per
  * JVM (see the `Sessions` scaladoc).
  *
  * The counter is Spark's own: `CodegenMetrics.METRIC_COMPILATION_TIME`
  * records one sample per Janino compile, driver and executor side alike.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Rows whose second run still compiles, each with its cause. Both run
    * several COUNT(DISTINCT ...) over different columns: Spark's
    * RewriteDistinctAggregates orders the distinct groups through a hash
    * map keyed on expressions whose ids are new on every run, so the
    * Expand and the aggregate above it come out in another group order. */
  private val allowed = Map(
    "q_events_funnel" -> "distinct-aggregate group order follows per-run expression ids",
    "t_dataset_card" -> "distinct-aggregate group order follows per-run expression ids")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(name: String): Long = {
    val before = compiles()
    try graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    compiles() - before
  }

  /** Classes a steady micro-batch of a keyed stream may still compile:
    * one, Spark's late-event filter `eventTime <= <watermark>` in front
    * of `flatMapGroupsWithState` (the event-time timeout), which carries
    * the batch's watermark as a literal and so is new code every batch. */
  private val steadyBatchCompiles = 1L

  /** Compiles per micro-batch of one query over a keyed stream:
    * `MemoryStream` → `keyBy` → `StateComputation`, six batches, event
    * time one second further each batch, so the watermark advances too. */
  private def keyedStreamCompiles(): Seq[Long] = {
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val h = Graft.source("codegen-keyed", DatasetSource(words.toDS(), (w: (String, Long)) => w._2))
      .map(_._1)
      .keyBy(identity)
      .to(StreamingFixtures.CountWord)
      .toSink(EmptySink())
    try (1 to 6).map { b =>
      val before = compiles()
      words.addData(Seq("a", "b", "c", "a").map(w => (w, b * 1000000000L)): _*)
      h.processAllAvailable()
      compiles() - before
    } finally h.stop()
  }

  test("a keyed stream compiles at most its watermark filter per warm micro-batch") {
    // the first query warms in two batches; a second query of the same
    // shape finds every other class cached from its first batch on, which
    // a per-query class loader (artifact isolation) would defeat
    val first = keyedStreamCompiles()
    val second = keyedStreamCompiles()
    assert((first.drop(2) ++ second).forall(_ <= steadyBatchCompiles),
      s"compiles per micro-batch: first query ${first.mkString(", ")}, second " +
        s"query ${second.mkString(", ")}; a warm batch compiled more than the watermark filter")
  }

  test("a second pass over the registry compiles no new class") {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach(run)
    val fresh = names.map(n => n -> run(n)).filter { case (n, c) => c > 0 && !allowed.contains(n) }
    if (fresh.nonEmpty)
      fail(s"second runs compiled new classes: ${fresh.map { case (n, c) => s"$n=$c" }.mkString(", ")}")
  }
}
