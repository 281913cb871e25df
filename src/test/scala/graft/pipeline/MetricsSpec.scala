package graft.pipeline

import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Histogram bin math vectors from core/metrics/histogram.pony:21-66:
  * `get_idx(v) = 64 − clz(v)` (the doc comment there says "4→bin 4" but
  * the code gives idx 3; the code is what we match). */
class MetricsSpec extends AnyFunSuite {
  test("power-of-two binning matches the reference get_idx") {
    val h = new LatencyHistogram
    assert(h.binIdx(0) == 0)
    assert(h.binIdx(1) == 1)
    assert(h.binIdx(2) == 2)
    assert(h.binIdx(3) == 2)
    assert(h.binIdx(4) == 3)  // 64 − clz(4) = 3
    assert(h.binIdx(5) == 3)
    assert(h.binIdx(1024) == 11)
    assert(h.binIdx(Long.MaxValue) == 63)
  }

  test("record tracks counts, min, max, size") {
    val h = new LatencyHistogram
    Seq(3L, 4L, 5L, 1000L, 1L).foreach(h.record)
    assert(h.size == 5)
    assert(h.min == 1)
    assert(h.max == 1000)
    assert(h.count(2) == 1)  // 3
    assert(h.count(3) == 2)  // 4, 5
    assert(h.count(10) == 1) // 1000 ≤ 1024
    assert(h.report.map(_._2).sum == 5)
  }

  test("report labels are exclusive upper bounds (the documented contract)") {
    val h = new LatencyHistogram
    h.record(8L) // [8,16) -> bin 4, label 16
    assert(h.report == Seq((16L, 1L)),
      s"a recorded 8 reports under EXCLUSIVE bound 16, got ${h.report}")
  }

  /** Polls until `key`'s metrics satisfy `done`, for at most 10 s; the
    * caller's assertion then reports what was there if they never did. */
  private def awaitMetrics(listener: GraftMetricsListener, key: String)(
      done: GraftMetricsListener#QueryMetrics => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (!listener.metricsFor(key).exists(done) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  // r13 sweep: the listener was shipped unregistered and untested, and
  // NPE'd on queries started without a queryName (null map key) — the
  // bus swallowed the NPE, so such a query's metrics silently vanished.
  test("listener records named AND unnamed queries (null-name NPE fix)") {
    val spark = TestSpark.spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    try {
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      src.addData(1L, 2L, 3L)
      // deliberately NOT through SinkConfig.streamWriter: no queryName
      val q = src.toDS().writeStream.format("noop").start()
      q.processAllAvailable()
      q.stop()
      // the listener bus is asynchronous: the batch's QueryProgressEvent may
      // land after stop() returns
      awaitMetrics(listener, q.id.toString)(_.rows == 3L)
      val m = listener.metricsFor(q.id.toString)
      assert(m.exists(_.rows == 3L),
        s"unnamed query must be keyed by its id, got ${listener.summary.keySet}")
      val named = src.toDS().writeStream.queryName("metrics-named")
        .format("noop").start()
      src.addData(4L, 5L)
      named.processAllAvailable()
      named.stop()
      awaitMetrics(listener, "metrics-named")(_.batches >= 1L)
      assert(listener.metricsFor("metrics-named").exists(_.batches >= 1L))
    } finally spark.streams.removeListener(listener)
  }
}
