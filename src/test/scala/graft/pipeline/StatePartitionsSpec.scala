package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Pins the measured two-ended state-partition rule (SCALING.md r13
  * ladder → Graft.statePartitionsFor, VERDICT r13 #3). The anchors are
  * MEASUREMENTS, not design choices: 16 beat 32 at ~1.5 K keys on both
  * providers (widening exploded summed commit cost 8→50 s HDFS,
  * 23→120 s RocksDB); 32 beat 16 at ×100 keys (~150 K — the native
  * session host halved its wall). A change that moves either anchor is
  * reverting evidence and must fail here. */
class StatePartitionsSpec extends AnyFunSuite {

  test("measured anchor, narrow end: ~1.5K keys on 32 cores -> 16") {
    assert(Graft.statePartitionsFor(1500L, 32) === 16)
  }

  test("measured anchor, deep end: x100 keys (~150K) on 32 cores -> 32") {
    assert(Graft.statePartitionsFor(150000L, 32) === 32)
  }

  test("the rule tracks key volume, not cores: widening the box alone does not widen state") {
    // same narrow key space on a 4x wider box: keys are too few to feed
    // the extra width (below the ~100 keys/core floor threshold), so the
    // answer stays at the commit-cost optimum
    assert(Graft.statePartitionsFor(1500L, 128) === 16)
    // below the narrow anchor's key count the interpolation holds at 16
    assert(Graft.statePartitionsFor(1000L, 32) === 16)
  }

  test("plentiful keys on a wide cluster floor at the cluster width") {
    // 1e9 keys on 1000 cores: the per-partition commit is paid in
    // parallel across executors, so width must not sit below cores
    val p = Graft.statePartitionsFor(1000000000L, 1000)
    assert(p >= 1000, s"expected >= cores(1000), got $p")
    // 50K keys on 32 cores clears the >= 100 keys/core threshold: the
    // floor holds it at 32 (the r16 single-box cell read 16 best here,
    // the regime SCALING.md keeps on record)
    assert(Graft.statePartitionsFor(50000L, 32) === 32)
  }

  test("the cores floor holds on non-power-of-two clusters (round-up, not round-to-nearest)") {
    // ADVICE r14: round(log2 1400) = 10 -> 1024 < cores contradicted the
    // documented hard floor; when the floor binds, the width steps UP
    assert(Graft.statePartitionsFor(150000000L, 1400) === 2048)
    // sweep: wherever keys clear the >= 100/core threshold, the result
    // must never sit below cores
    for (cores <- Seq(3, 5, 24, 48, 96, 1000, 1400, 3000)) {
      val keys = 1000L * cores
      val p = Graft.statePartitionsFor(keys, cores)
      assert(p >= cores, s"cores=$cores keys=$keys -> $p sits below the floor")
    }
  }

  test("mid-band point: 15K keys on 32 cores -> 32") {
    // interpolation and the >= 100 keys/core floor agree on 32 here. The
    // r15 mid-band MEASUREMENT (SCALING.md ladder, keyMult 10) reads the
    // single-JVM box flat-to-16-favoring at this point (walls within
    // 1-16%, commit cost 5-6x higher at 32) — the box pays commits
    // serially, which is exactly the regime the floor clause's
    // cluster-parallelism argument excludes; the box's own crossover
    // sits between 15K and 150K keys (the deep anchor, where 32 wins
    // decisively even on the box).
    assert(Graft.statePartitionsFor(15000L, 32) === 32)
  }

  test("monotone in key volume between the anchors") {
    val ladder = Seq(1500L, 5000L, 15000L, 50000L, 150000L)
      .map(Graft.statePartitionsFor(_, 32))
    assert(ladder === ladder.sorted, s"non-monotone: $ladder")
  }

  test("never wider than the key count, power-of-two, positive") {
    for (keys <- Seq(1L, 3L, 7L, 50L, 1000L); cores <- Seq(1, 8, 32)) {
      val p = Graft.statePartitionsFor(keys, cores)
      assert(p >= 1 && p <= math.max(1, keys), s"keys=$keys cores=$cores -> $p")
      assert((p & (p - 1)) === 0, s"not a power of two: $p")
    }
  }

  test("invalid inputs fail fast with the diagnostic") {
    intercept[IllegalArgumentException](Graft.statePartitionsFor(0L, 32))
    intercept[IllegalArgumentException](Graft.statePartitionsFor(100L, 0))
  }
}
