package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench's two JSON outputs: the compact stdout line (the number of
  * record) and the full `bench_out.json` artifact. Both are built with
  * json4s, so every string is escaped by construction. */
class BenchJsonSpec extends AnyFunSuite {

  /** A string carrying every character a hand-built JSON line got wrong. */
  private val awkward = "dir \"quoted\" back\\slash\nnew line\ttab"

  test("the compact stdout line is a parseable '{'-line carrying the contract") {
    val line = Bench.compactBenchJson(
      total = 124.5936, totalCpuBound = 93.2101, totalWallBound = 31.3841,
      queries = Seq("q1_agg" -> 0.5116, "d_cluster" -> 3.2299),
      streamRps = Seq("stream_market_spread_wire" -> 949622.4),
      failed = Seq("x_bad"), sf = "/root/testdata/sf0.1", cpus = 32,
      subset = None)
    // keys, key order and number format are the driver contract: seconds
    // at 3 decimals, rows/s as integers
    assert(line ===
      """{"metric":"total","value":124.594,"unit":"sec",""" +
        """"total_cpu_bound":93.210,"total_wall_bound":31.384,"cpus":32,""" +
        """"queries":{"q1_agg":0.512,"d_cluster":3.230},""" +
        """"stream_rows_per_sec":{"stream_market_spread_wire":949622},""" +
        """"failed":["x_bad"],"sf":"/root/testdata/sf0.1"}""")
    val js = parse(line)
    assert((js \ "metric") === JString("total"))
    assert((js \ "cpus") === JInt(32))
    // no full-artifact blobs on stdout
    assert(!line.contains("queries_detail") && !line.contains("stream_state"))
    // a subset run marks itself
    val sub = Bench.compactBenchJson(1.0, 1.0, 0.0, Seq("q1_agg" -> 1.0),
      Nil, Nil, "sf", 8, subset = Some(Set("q1_agg")))
    assert(sub.contains(""""unit":"sec","subset":["q1_agg"],"total_cpu_bound""""))
  }

  test("the compact line stays under 3.5 KB at the widest real row set") {
    val batchNames = SparkEntry.queries.keys.toSeq.sorted
    val streamRowNames = StreamBench.RowNames
    assert(batchNames.size === 104)
    assert(streamRowNames.size === 15)
    val secs = (batchNames ++ streamRowNames).map(_ -> 99.999)
    val (total, cpu, wall) = Bench.splitTotals(batchNames.map(_ -> 99.999))
    val line = Bench.compactBenchJson(total, cpu, wall, secs,
      streamRowNames.map(_ -> 9999999.0), Nil, "/root/testdata/sf0.1", 32, None)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes < 3500, s"compact line is $bytes bytes")
    val js = parse(line)
    assert((js \ "queries").asInstanceOf[JObject].obj.size === 119)
    assert((js \ "stream_rows_per_sec").asInstanceOf[JObject].obj.size === 15)
  }

  test("sf and failure messages round-trip through both artifacts") {
    val line = Bench.compactBenchJson(1.0, 1.0, 0.0, Seq("q1_agg" -> 1.0),
      Nil, Seq(awkward), awkward, 4, None)
    assert(!line.contains("\n"))
    val compactJs = parse(line)
    assert((compactJs \ "sf") === JString(awkward))
    assert((compactJs \ "failed") === JArray(List(JString(awkward))))

    val batch = Seq(
      Bench.BatchRow("q1_agg", Vector(0.5, 0.7, 0.6)),
      // a slow trial stays in: the headline is the median of every trial
      Bench.BatchRow("p_gen_source", Vector(1.0, 5.0, 1.1)))
    val wire = StreamBench.RowOut(Bench.WireRow, 4.0, Seq(4.0, 4.2, 3.9),
      1000000.0, Seq(1000000.0, 950000.0, 1020000.0), (120L, 300L), "fmgws+hdfs",
      JArray(Nil))
    val stream = StreamBench.Out(Seq(wire), Nil, repeats = 5,
      extra = Seq("stream_recovery_detail" -> JArray(List(JString(awkward)))))
    val body = Bench.benchOutJson(batch, repeats = 3, stream,
      Seq(awkward), awkward, subset = None)
    val js = parse(org.json4s.jackson.JsonMethods.compact(body))
    assert((js \ "sf") === JString(awkward))
    assert((js \ "failed") === JArray(List(JString(awkward))))
    assert((js \ "stream_recovery_detail") === JArray(List(JString(awkward))))
    // headline medians: the plain median of every trial, wall-bound rows
    // included
    assert((js \ "queries") \ "q1_agg" === JDouble(0.6))
    assert((js \ "queries") \ "p_gen_source" === JDouble(1.1))
    assert((js \ "value") === JDouble(0.6 + 1.1))
    val gen = (js \ "queries_detail") \ "p_gen_source"
    assert(gen \ "median" === JDouble(1.1))
    assert(gen \ "min" === JDouble(1.0))
    assert(gen \ "max" === JDouble(5.0))
    assert(gen \ "runs" === JArray(List(JDouble(1.0), JDouble(5.0), JDouble(1.1))))
    assert(gen \ "evidence_ms" === JNothing)
    // the stream pack's trial count comes from its own Out
    assert((js \ "stream_repeats") === JInt(5))
    // the removed selection, normalization and adjudication keys stay gone
    for (k <- Seq("committed_selection", "total_calibrated", "ref_cal_sec",
        "stream_wire_deployment", "stream_staged_replay",
        "calibration_sec", "calibration_series", "batch_spiked_trials",
        "stream_round_health", "stream_median_clean",
        "stream_spiked_trials", "stream_wall_rerun_trials",
        "stream_calibration_series", "drill", "stream_wire_standalone"))
      assert((js \ k) === JNothing, k)
  }

  test("the stream wall-bound tag set is pinned") {
    // structural rationale + r14 cross-host evidence in
    // Bench.StreamWallBound's scaladoc and SCALING.md r15
    assert(Bench.StreamWallBound === Set("stream_market_spread_wire",
      "stream_recovery", "stream_two_stage", "stream_topk"))
  }
}
