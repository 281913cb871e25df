package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.StreamBench.{Batch, Trial, trialOf}

/** The stream-bench row statistics over synthetic per-batch records:
  * which batches count, the p50/max latency, the state telemetry and the
  * wall-clock fallback. */
class StreamBenchStatsSpec extends AnyFunSuite {

  private def b(rows: Long, ms: Long, stateRows: Long = 0L, mem: Long = 0L,
      commit: Long = 0L): Batch = Batch(rows, ms, stateRows, mem, commit)

  test("zero-row batches are excluded") {
    // batch 0 (1,000 ms) is dropped; the two idle batches count nowhere
    val t = trialOf(10.0, 1.0, Seq(b(100, 1000), b(0, 5), b(200, 100), b(0, 7), b(200, 300)))
    assert(t.rowsPerSec === 400 * 1000.0 / 400)
    assert(t.latency === ((300L, 300L)))
  }

  test("batch 0 is dropped only when more batches remain") {
    assert(trialOf(10.0, 1.0, Seq(b(500, 250))).rowsPerSec === 2000.0)
    assert(trialOf(10.0, 1.0, Seq(b(0, 3), b(500, 250), b(0, 4))).latency === ((250L, 250L)))
    // with a second data batch, the first no longer counts
    val t = trialOf(10.0, 1.0, Seq(b(500, 250), b(100, 50)))
    assert(t.rowsPerSec === 2000.0)
    assert(t.latency === ((50L, 50L)))
  }

  test("odd and even p50, and the max") {
    val warm = b(1, 9999)
    // odd: the middle of 10, 30, 20
    assert(trialOf(1.0, 1.0, Seq(warm, b(1, 10), b(1, 30), b(1, 20))).latency === ((20L, 30L)))
    // even: the upper middle of 10, 20, 30, 40
    assert(trialOf(1.0, 1.0,
      Seq(warm, b(1, 40), b(1, 10), b(1, 30), b(1, 20))).latency === ((30L, 40L)))
  }

  test("state is taken at the last batch, commit ms is summed") {
    val t = trialOf(1.0, 1.0, Seq(
      b(10, 5, stateRows = 1, mem = 100, commit = 1000),
      b(10, 5, stateRows = 7, mem = 700, commit = 3),
      b(0, 5, stateRows = 99, mem = 9900, commit = 500),
      b(10, 5, stateRows = 8, mem = 800, commit = 4)))
    assert((t.stateRows, t.stateMemory, t.commitMs) === ((8L, 800L, 7L)))
  }

  test("the wall-clock fallback rate when there is no progress") {
    assert(trialOf(4.0, 1000.0, Nil) === Trial(4.0, 250.0, (0L, 0L), 0L, 0L, 0L))
    // batches that read nothing are no progress either
    assert(trialOf(2.0, 1000.0, Seq(b(0, 40))).rowsPerSec === 500.0)
  }
}
